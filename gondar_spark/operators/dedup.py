"""Deduplication operators for training-data pipelines — each designed for
the 100 TB path (shuffle on a compact key, never a quadratic self-join):

  * exact_dedup          — md5-hash groupBy (one shuffle on a 32-byte key)
  * minhash_lsh_pairs    — word-shingle MinHash -> LSH bands -> candidate
                           join -> exact word-shingle Jaccard filter
  * incremental_minhash_pairs — the same pairs for a new batch, probing a
                           committed minhash_store instead of re-blocking
  * simhash_dedup        — 64-bit SimHash via xxhash64 bit ops (JVM-side);
                           hamming-near pairs found by 4x16-bit band blocking
  * ngram_jaccard_pairs  — exact word-n-gram Jaccard via inverted-index
                           join; picks the raw or the prefix-filtered
                           join from the posting-length fan-out

The LSH operators own only the word-shingle sets (``shingled``) and
dedup's threshold policy (``verify_pairs``: round half-up to 4 places,
then compare). Signatures, band keys, the band self-join and the
new x store probe are the shared kernel in operators.blocking, run with
key ``id`` and set ``sh``; the Jaccard verify is scoring.jaccard_verify.
Linking uses the same kernel on mention norms.

All operators here have exact DuckDB oracles (md5-based hashing is
engine-portable; see __spark_entry__.py).

Cache ownership: minhash_lsh_pairs / ngram_jaccard_pairs / simhash_dedup
persist their md5-heavy intermediate (shingles / fingerprints) because it
feeds 2-4 DAG branches. The persist cannot be released inside the
operator (the returned plan still reads it), so it registers with the
caller's session.Scope and lives until that scope exits; outside any
``with Scope()`` it lands in the root scope, which ``release_caches()``
(re-exported here for the harnesses) drains — bench.py and
tools/check_oracles.py call it between queries. The root scope caps
outstanding persists (oldest force-released, logged), so a long-lived
session never accumulates cached shingle data.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_half_up
from ..functions.textstats import tokens_col
from ..session import persist, release_caches  # noqa: F401 (re-export)
from .blocking import (
    band_keys_df, candidate_pairs, minhash_cols, probe_pairs, self_pairs,
)
from .scoring import jaccard_verify


def exact_dedup(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: keeper = min id, n_copies count."""
    return (
        df.select(F.md5(F.col(col).cast("binary")).alias("text_hash"), id_col)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def shingled(df: DataFrame, col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """(id, sh): distinct md5'd word n-gram shingles; a text shorter than
    n tokens is one shingle of its whole token string. The token array is
    materialized exactly once per row — never re-split inside the
    shingle lambda: higher-order-function lambdas defeat common-
    subexpression elimination, so an inline tokenizer would re-split the
    text once per shingle element (measured 50x slowdowns)."""
    toks = F.col("_toks")
    sz = F.size(toks)
    whole = F.md5(F.concat_ws(" ", toks).cast("binary"))
    sh = F.when(sz < n, F.array(whole)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), sz - n),
                lambda i: F.md5(
                    F.concat_ws(
                        " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
                    ).cast("binary")
                ),
            )
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), tokens_col(col).alias("_toks"))
        .select("id", sh.alias("sh"))
    )


def verify_pairs(pairs: DataFrame, sets: DataFrame,
                 threshold: float) -> DataFrame:
    """Dedup's threshold policy over the shared verify join: the Jaccard is
    rounded half-up to 4 places FIRST, then compared — the value the
    DuckDB oracles reproduce bit-for-bit."""
    return (
        jaccard_verify(pairs, sets, "id", "sh")
        .withColumn("jaccard", round_half_up(F.col("jaccard"), 4))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_store(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    seed: int = 1001,
) -> tuple[DataFrame, DataFrame]:
    """The LSH index of a document set: (signatures, blocks) where
    signatures = (id, sh) — the shingle sets the verify join needs — and
    blocks = (id, band_key), the band membership table. minhash_lsh_pairs
    self-joins it; committed once per corpus it is what every later
    ingest probes (incremental_minhash_pairs), O(new) instead of
    O(corpus) re-blocking. The shingle sets feed the signature AND both
    sides of the verify join, so they are persisted (in the current
    scope) and hashing runs once."""
    base = persist(shingled(df, col, id_col, shingle_n))
    sig = base.select("id", *minhash_cols("sh", n_hashes, seed))
    return base, band_keys_df(sig, n_hashes, bands, key="id")


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    seed: int = 1001,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via MinHash+LSH blocking
    then exact shingle-Jaccard verification. The self-join is on band keys
    only — never all-pairs — and carries ids only: shingle arrays
    re-attach by id on the far smaller distinct-pair set."""
    sets, blocks = minhash_store(
        df, col, id_col, shingle_n, n_hashes, bands, seed)
    pairs = candidate_pairs(blocks, max_block_size=None, key="id")
    return verify_pairs(pairs, sets, threshold)


def incremental_minhash_pairs(
    new_df: DataFrame,
    store_sig: DataFrame,
    store_blocks: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    seed: int = 1001,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup pairs INVOLVING a new batch, without re-blocking the
    corpus: candidates come from blocking.probe_pairs (the batch's own
    band self-join plus an equi-join probe of the committed band store).
    Because band membership of committed docs never changes, old-corpus
    pairs are exactly the ones a previous run already emitted, so
    ``previous pairs ∪ returned pairs`` equals the one-shot
    minhash_lsh_pairs over the unioned corpus (the oracle contract of
    __spark_entry__.q_incremental_edges).

    Plan shape at scale: the probe side (new batch) is small, so AQE
    broadcasts it into the band-store join — the store is SCANNED
    (columnar, two narrow columns) but never SHUFFLED; the verify join
    fetches shingles only for pair members, from the store for committed
    members and from the batch for new ones. Returns
    (pairs, new_sig, new_blocks) — callers append the latter two to the
    store so the next ingest probes this batch too.

    Caller contract: ``new_df`` ids must be disjoint from store ids
    (the pipeline guarantees this with an anti-join on the committed
    mention/doc ledger)."""
    new_sig, new_blocks = minhash_store(
        new_df, col, id_col, shingle_n, n_hashes, bands, seed
    )
    new_blocks = persist(new_blocks)
    pairs = probe_pairs(new_blocks, store_blocks, key="id")
    sets = store_sig.select("id", "sh").unionByName(new_sig)
    return verify_pairs(pairs, sets, threshold), new_sig, new_blocks


# Fan-out F = sum C(d,2) / sum d over the shingle posting lengths d: the
# raw inverted-index join emits sum C(d,2) rows from sum d index rows, F
# per row. At or below this value the raw join is the faster exact path,
# above it the AllPairs prefix filter is (see ngram_jaccard_pairs).
PREFIX_FANOUT = 48.0


def _posting_fanout(dfreq: DataFrame) -> float:
    """F over posting lengths ``dfreq`` (s, dfreq); 0 for an empty index.
    One aggregate job over the (s, count) rows."""
    row = dfreq.agg(
        F.sum(F.col("dfreq") * (F.col("dfreq") - 1) / 2).alias("pairs"),
        F.sum("dfreq").alias("rows"),
    ).first()
    return float(row["pairs"]) / row["rows"] if row["rows"] else 0.0


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram-Jaccard threshold join (the verifier path and recall
    oracle for minhash_lsh_pairs). Both paths below return the same
    pairs and scores; the operator picks one from its own data.

    It measures the raw inverted-index join's fan-out
    F = sum C(d,2) / sum d over the posting lengths d (one aggregate
    over the shingles, which are persisted and reused by either path):

    * F <= PREFIX_FANOUT — the raw join: overlap counts straight off the
      self-joined inverted index, no array payloads cross the shuffle.
      Quadratic in the hottest posting list, which a flat vocabulary
      does not have.
    * F > PREFIX_FANOUT — the AllPairs/PPJoin prefix filter (Bayardo et
      al. WWW'07; Xiao et al. WWW'08): order shingles globally by
      ascending document frequency; a pair with jaccard >= t shares at
      least ceil(t*|x|) shingles of EACH side (o(1+t) >= t(|x|+|y|) and
      |y| >= o imply o >= t*|x|), so both sides must collide within
      their first |x| - ceil(t*|x|) + 1 rarest shingles; the index join
      runs on those prefixes only and candidates are verified on the
      full shingle sets. A shingle in every document falls outside most
      prefixes, so a hot posting no longer costs s^2/2 join rows.

    PREFIX_FANOUT was measured on a 4-core host, local[4], best of 3
    warm runs per path. Corpora of n docs, each one trigram shared by
    every doc plus 12 random words (F ~ n/26): F 19: 0.85 s raw vs
    1.02 s prefix; F 38: 0.78 vs 0.78; F 48: 0.66 vs 0.74; F 58: 0.78
    vs 0.70; F 77: 0.97 vs 0.75; F 192: 4.15 vs 0.90. The sf0.1
    planted-dup corpus (F 5.4): 3.6 s raw vs 10.8 s prefix.
    """
    # the shingle arrays (md5-heavy) feed 3-4 DAG branches (index, sizes,
    # and both sides of the verify join) — persist so the hashing runs
    # once, not once per branch (measured 1.5-2x on the sf0.1 corpus)
    base = persist(shingled(df, col, id_col, shingle_n))
    sizes = base.select("id", F.size("sh").alias("sz"))
    inv = base.select("id", F.explode("sh").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count("*").alias("dfreq"))
    fanout = _posting_fanout(dfreq)
    prefix = fanout > PREFIX_FANOUT
    logging.getLogger("gondar_spark.dedup").info(
        "ngram_jaccard_pairs: posting fan-out %.1f -> %s join", fanout,
        "prefix-filtered" if prefix else "raw")

    if not prefix:
        inter = (self_pairs(inv, "id", "s").groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("inter")))
        return (
            inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}),
                       "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}),
                  "id_b")
            .withColumn(
                "jaccard",
                round_half_up(
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    w = Window.partitionBy("id").orderBy("dfreq", "s")
    ranked = (
        inv.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    index = ranked.filter(F.col("rn") <= prefix_len).select("id", "s")
    pairs = candidate_pairs(index, max_block_size=None, key="id", band="s")
    return verify_pairs(pairs, base, threshold)


def simhash_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs, fully JVM-side.

    simhash bit b = sign of sum over tokens of (+1 if bit b of
    hash(token) else -1). Candidate generation: split the fingerprint
    into 4 bands — any pair within hamming distance 3 shares at least one
    exact band (pigeonhole), so the join is an equi-join on
    (band_idx, band_value), never all-pairs.

    ``hash_fn``:
      * "xxhash64" (default) — 64-bit JVM hash, 4x16-bit bands; the fast
        production path (one codegen'd expression, no string material).
      * "md5_60" — 60-bit hash from the first 15 hex chars of md5, 4x15-bit
        bands; engine-portable (DuckDB computes the identical fingerprint:
        ('0x' || substr(md5(t),1,15))::BIGINT), so this variant has an
        exact SQL oracle. ~2x the hash cost of xxhash64 — use for
        verification, not the 100 TB hot path.
    """
    if hash_fn == "xxhash64":
        n_bits, band_bits = 64, 16
        tok_hash = lambda t: F.xxhash64(t)  # noqa: E731
    elif hash_fn == "md5_60":
        n_bits, band_bits = 60, 15
        tok_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    n_bands = n_bits // band_bits
    band_mask = (1 << band_bits) - 1
    # Bit votes via explode -> ONE groupBy with 60/64 conditional sums
    # (round 6). The previous form — 60/64 separate higher-order
    # aggregate() lambdas over an in-row token-hash array — was
    # measured to spend more time BUILDING and codegen-compiling the
    # expression tree (~1.3s driver-side per call, plus a giant
    # generated class) than computing it. The shuffle this introduces is
    # a compact (id, 8-byte hash) stream with map-side partial sums.
    # Semantics identical: sum of the same +/-1 terms per bit;
    # explode_outer keeps token-less docs (they vote 0/negative on
    # every bit -> simhash 0, exactly as the empty-array aggregate did).
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode_outer(tokens_col(col)).alias("_t"))
    h = tok_hash(F.col("_t"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(n_bits)
        ]
    )
    sim = None
    for b in range(n_bits):
        bit = F.when(F.col(f"_v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseXOR(term)
    # the bit votes feed BOTH sides of the band self-join — persist the
    # fingerprints so the votes run once per row, not twice
    fp = persist(votes.select("id", sim.alias("simhash")))
    bands = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_idx", "band.band_val")
    a = bands.withColumnsRenamed({"id": "id_a", "simhash": "sim_a"})
    b = bands.withColumnsRenamed({"id": "id_b", "simhash": "sim_b"})
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def clean_corpus(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    quality_threshold: float = 0.35,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    seed: int = 1001,
    cc_max_iter: int = 20,
) -> DataFrame:
    """The full training-data cleaning chain in one operator — what a
    corpus user actually runs before tokenization:

      1. quality gate (textstats.with_quality_score >= threshold) —
         dropping junk FIRST so a filtered doc can never be a dedup
         keeper that shadows a good duplicate;
      2. exact dedup — keeper = min id per content hash;
      3. near-dup removal — MinHash/LSH pairs -> connected components
         (the same iterative CC the KG pipeline uses), keep only each
         cluster's min id.

    Output: the surviving rows with token_count / quality_score
    attached. Id handling is TYPE-DISPATCHED (not docstring-enforced):

      * integral ids — zero-padded through CC so the string-min label
        equals the numeric min (same trick as dedup_clusters); keeper =
        numeric-min id per cluster. Negative ids would break the padded
        ordering, so the pad expression raises IN-PLAN on the first
        negative id it sees (no extra validation scan — at 100 TB an
        eager min(id) pass just to validate would cost a full corpus
        read).
      * string ids — CC runs on the RAW ids (CC labels are strings
        already); keeper = lexicographic-min id per cluster, and the
        loser anti-join is on the original column, no casts. Pre-fix,
        a string-id corpus silently kept ALL near-dups: the loser cast
        to long produced NULLs and the anti-join removed nothing.
      * anything else — loud ValueError.

    Every stage is a composition of the individually oracled operators,
    and the composition itself carries an exact DuckDB oracle for BOTH
    id regimes (__spark_entry__.q_corpus_clean /
    q_corpus_clean_string_ids)."""
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType, StringType,
    )

    from ..functions.textstats import with_quality_score
    from .cc import connected_components

    id_type = df.schema[id_col].dataType
    integral = isinstance(id_type, (ByteType, ShortType, IntegerType, LongType))
    if not integral and not isinstance(id_type, StringType):
        raise ValueError(
            f"clean_corpus: id column {id_col!r} must be integral or "
            f"string, got {id_type.simpleString()}"
        )

    q = with_quality_score(df, col).filter(
        F.col("quality_score") >= quality_threshold
    )
    hashed = q.withColumn("_h", F.md5(F.col(col).cast("binary")))
    keep = hashed.groupBy("_h").agg(F.min(id_col).alias("_keep"))
    exact = (
        hashed.join(keep, "_h")
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_h", "_keep")
    )
    pairs = minhash_lsh_pairs(
        exact, col, id_col, shingle_n, n_hashes, bands, seed,
        jaccard_threshold,
    )

    if integral:
        def as_node(c):
            # width 19 = max int64 digit count: lpad TRUNCATES beyond the
            # width, which would silently corrupt labels for
            # doc_id >= 10^8 at a width of 8. The raise_error branch
            # trips at RUNTIME on negative ids (NullType coerces into the
            # string branch), keeping validation lazy and scan-free.
            return F.when(
                F.col(c) < 0,
                F.raise_error(F.lit(
                    "clean_corpus: negative ids break zero-padded "
                    "ordering; use string ids or shift the key")),
            ).otherwise(F.lpad(F.col(c).cast("string"), 19, "0"))

        def from_label(c):
            return F.col(c).cast("long")
    else:
        def as_node(c):
            return F.col(c)

        def from_label(c):
            return F.col(c)

    labels = connected_components(
        pairs.select(as_node("id_a").alias("norm_a"),
                     as_node("id_b").alias("norm_b")),
        cc_max_iter,
    )
    losers = labels.filter(F.col("norm") != F.col("component")).select(
        from_label("norm").alias(id_col)
    )
    return exact.join(losers, id_col, "left_anti")
