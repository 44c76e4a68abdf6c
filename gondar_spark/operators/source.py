"""Source-side operators: sha256 pass, semi-join fetch.

Reference analogs (SURVEY.md §2A):
  * A2 `_fetch_content` is an ID->content semi-join
    (/root/reference/gondar/tools/entrez.py:175-182) — here a broadcast
    left-semi join.
  * B2 sha256 pass: per-row `sha256(content)` invariant
    (/root/repo/BASELINE.json:15) computed JVM-side with F.sha2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_content_sha(df: DataFrame) -> DataFrame:
    """B2: whole-stage-codegen sha256 over content; matches
    hashlib.sha256(content.encode()).hexdigest() for UTF-8 text."""
    return df.withColumn(
        "content_sha256", F.lower(F.sha2(F.col("content").cast("binary"), 256))
    )


def verify_source_hashes(source: DataFrame, golden_hashes: DataFrame) -> DataFrame:
    """Rows whose computed sha256 disagrees with the golden fixture —
    an empty result is the pass condition (/root/repo/BASELINE.json:15).
    Golden fixture is small relative to content, but keyed the same; the
    join is on (repo, path, commit) and AQE picks the strategy."""
    got = with_content_sha(source).select(
        "repo", "path", "commit", F.col("content_sha256").alias("sha_actual")
    )
    want = golden_hashes.select(
        "repo", "path", "commit", F.col("content_sha256").alias("sha_golden")
    )
    return got.join(want, ["repo", "path", "commit"], "full_outer").filter(
        ~F.col("sha_actual").eqNullSafe(F.col("sha_golden"))
    )


def semi_join_fetch(content_df: DataFrame, ids_df: DataFrame,
                    keys: list[str]) -> DataFrame:
    """A2 analog: fetch full rows for a (small) id set — broadcast
    left-semi join, no shuffle of the big side."""
    return content_df.join(F.broadcast(ids_df), keys, "left_semi")
