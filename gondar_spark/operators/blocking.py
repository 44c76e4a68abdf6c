"""B6/B7: the LSH kernel shared by linking (pipeline, kg_* queries),
near-dup detection (operators.dedup) and the streaming band-state
operator: MinHash signatures, band keys, the band self-join and the
new x store probe. The exact-Jaccard verify that follows lives beside
``score_pairs`` in operators.scoring.

Each piece takes its key and set columns by name: ``norm``/``grams``
(char-gram sets of mention norms) or ``id``/``sh`` (word-shingle sets of
documents). Pairs come out as ``{key}_a < {key}_b``.

Hand-rolled (SURVEY.md §2B B6) instead of pyspark.ml MinHashLSH so that
(a) hashing is md5-based and reproducible in the DuckDB oracle
character-for-character, and (b) there is no Python in the hot path.
The python mirror (extraction.spec.band_keys) computes the identical
keys — the fixture generator validates alias clusters against it.

Plan shape: signatures and band keys are computed in-row (no shuffle);
blocks self-join on band_key, AQE skew-join handles hot bands, and an
optional block-size cap drops degenerate mega-blocks (standard LSH
guard at web scale).

The committed link store (the pipeline's ``link_bands``) is the
``band_keys_df`` output as it is, (norm, band_key), one unpartitioned
table: an ingest probes it by band key, and recomputes the verify
grams of the store norms it touches with ``gram_array`` — the same
expression ``minhash_signature_df`` uses — so no signature or gram
column is ever stored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_array(col: str = "norm", n: int = 3):
    """Distinct char n-grams as an array column; mirrors
    extraction.spec.char_ngrams (short strings -> themselves)."""
    c = F.col(col)
    return (
        F.when(F.length(c) == 0, F.array(F.lit("")))
        .when(F.length(c) < n, F.array(c))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length(c) - n),
                    lambda i: c.substr(i + 1, F.lit(n)),
                )
            )
        )
    )


def minhash_cols(set_col: str, n_hashes: int = 16, seed: int = 1001):
    """h0..h{H-1}: h_k = min over the set of md5('{seed}:{k}:' || element)
    — identical to the python/DuckDB mirror; hex md5 preserves order under
    string min."""
    return [
        F.array_min(F.transform(
            set_col,
            lambda e: F.md5(F.concat(F.lit(f"{seed}:{k}:"), e).cast("binary")),
        )).alias(f"h{k}")
        for k in range(n_hashes)
    ]


def band_key_array(n_hashes: int = 16, bands: int = 8):
    """LSH band keys from h0..h{H-1}: '{b}:' || md5(h_i | h_j | ...)."""
    rows = n_hashes // bands
    return F.array(*[
        F.concat(F.lit(f"{b}:"), F.md5(F.concat_ws(
            "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
        ).cast("binary")))
        for b in range(bands)
    ])


def minhash_signature_df(
    mentions: DataFrame,
    n_hashes: int = 16,
    seed: int = 1001,
    ngram: int = 3,
) -> DataFrame:
    """(norm) -> (norm, h0..h{H-1}, grams). The only shuffle is the
    norm-distinct."""
    grams = mentions.select("norm").distinct().withColumn(
        "grams", gram_array(n=ngram))
    return grams.select("norm", *minhash_cols("grams", n_hashes, seed), "grams")


def band_keys_df(sig: DataFrame, n_hashes: int = 16, bands: int = 8,
                 lang_df: DataFrame | None = None,
                 key: str = "norm") -> DataFrame:
    """signature columns -> exploded (key, band_key) block table.

    ``lang_df`` (norm, lang pairs) enables lang-tagged blocking per the
    north star (BASELINE.json "MinHash/LSH blocking on mention surface
    forms + language tags"): block keys become band#lang, so
    non-identical surface forms pair only within a shared language.
    Identical norms remain one node regardless (normalization unifies
    exact cross-language forms before blocking), so lang tagging narrows
    candidate generation without splitting exact matches.
    """
    blocks = sig.select(key, F.explode(band_key_array(n_hashes, bands))
                        .alias("band_key"))
    if lang_df is not None:
        blocks = blocks.join(
            lang_df.select(key, "lang").distinct(), key
        ).select(key, F.concat_ws("#", "band_key", "lang").alias("band_key"))
    return blocks


def self_pairs(blocks: DataFrame, key: str = "norm",
               band: str = "band_key") -> DataFrame:
    """Band self-equi-join -> ({key}_a < {key}_b), one row per shared band
    (not distinct: callers dedup or count)."""
    a, b = f"{key}_a", f"{key}_b"
    return (
        blocks.withColumnRenamed(key, a)
        .join(blocks.withColumnRenamed(key, b), band)
        .filter(F.col(a) < F.col(b))
        .select(a, b)
    )


def candidate_pairs(
    blocks: DataFrame, max_block_size: int | None = 10_000,
    key: str = "norm", band: str = "band_key",
) -> DataFrame:
    """B7: distinct ({key}_a < {key}_b) pairs sharing a band.

    max_block_size drops degenerate mega-blocks (a block of size s yields
    s^2/2 pairs — at 10^12 files a runaway block is a job-killer; the cap
    bounds the quadratic term and is logged by the pipeline, never silent).
    """
    if max_block_size is not None:
        sizes = blocks.groupBy(band).agg(F.count("*").alias("_bs"))
        blocks = (
            blocks.join(sizes, band)
            .filter(F.col("_bs") <= max_block_size)
            .drop("_bs")
        )
    return self_pairs(blocks, key, band).distinct()


def probe_pairs(new_blocks: DataFrame, store_blocks: DataFrame,
                key: str = "norm") -> DataFrame:
    """Distinct candidate pairs with at least one NEW member: the new
    batch's own band self-join plus a band-key equi-join probe of the
    committed block table — never a re-block of the store. min/max
    ordering keeps ``{key}_a < {key}_b`` whichever side is newer. New keys
    must be disjoint from store keys."""
    a, b = f"{key}_a", f"{key}_b"
    new_x_store = (
        new_blocks.withColumnRenamed(key, "_n")
        .join(store_blocks.withColumnRenamed(key, "_o"), "band_key")
        .filter(F.col("_n") != F.col("_o"))
        .select(F.least("_n", "_o").alias(a), F.greatest("_n", "_o").alias(b))
    )
    return self_pairs(new_blocks, key).unionByName(new_x_store).distinct()
