"""B8: pairwise scoring — the exact-Jaccard verify of the shared LSH kernel
(operators.blocking) plus linking's threshold policy.

``jaccard_verify`` is the one set-intersection join: linking verifies
char-gram sets of norms, dedup verifies word-shingle sets of documents,
both through it. It returns the RAW Jaccard; each caller applies its own
threshold policy (``score_pairs`` compares the raw value; dedup rounds
half-up to 4 places first). array_intersect over the (distinct) set
arrays keeps scoring inside whole-stage codegen; no Python. A
levenshtein-based score is provided as an alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def jaccard_verify(pairs: DataFrame, sets: DataFrame, key: str = "norm",
                   set_col: str = "grams") -> DataFrame:
    """pairs({key}_a, {key}_b) x sets(key, set_col) ->
    ({key}_a, {key}_b, jaccard).

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct element sets —
    identical to extraction.spec.jaccard and the DuckDB oracles.
    """
    a, b = f"{key}_a", f"{key}_b"
    sa, sb = f"{set_col}_a", f"{set_col}_b"
    s = sets.select(key, set_col)
    return (
        pairs.join(s.withColumnsRenamed({key: a, set_col: sa}), a)
        .join(s.withColumnsRenamed({key: b, set_col: sb}), b)
        .withColumn("inter", F.size(F.array_intersect(sa, sb)))
        .select(a, b, (F.col("inter") / (F.size(sa) + F.size(sb)
                                         - F.col("inter"))).alias("jaccard"))
    )


def score_pairs(pairs: DataFrame, sig: DataFrame, threshold: float = 0.60) -> DataFrame:
    """pairs(norm_a, norm_b) x sig(norm, grams) -> scored edges whose RAW
    Jaccard reaches ``threshold``."""
    return jaccard_verify(pairs, sig).filter(F.col("jaccard") >= threshold)


def edit_similarity(pairs: DataFrame) -> DataFrame:
    """Alternative scorer: normalized Levenshtein similarity (JVM-side)."""
    return pairs.withColumn(
        "edit_sim",
        1.0
        - F.levenshtein("norm_a", "norm_b")
        / F.greatest(F.length("norm_a"), F.length("norm_b")),
    )
