"""B3 document chunking — pure column ops, no UDF.

Analog of the reference's body sectioning + per-section loop (its
``get_Body`` in tools/entrez.py:36-56; section loop in
modules/PubMedFlow.py:233).

``prepare_extraction_units``: normal files pass through WHOLE
(base_chunk=0) — chunk ids are line math the extractor does for free —
and only oversized files are JVM-split into SUPER-chunks of
``chunk_lines * super_factor`` lines with an aligned ``base_chunk``
offset. Rationale: a fine-grained explode materializes every line string
twice and re-joins them, an allocation storm that measurably ANTI-scales
at high core counts (8->32 threads tripled the stage's core-time on a
32-thread host); the hybrid keeps Arrow rows bounded (mega-file safety)
at near-zero cost for the 99% case.

Line-based grouping means a fact line never straddles units, mirroring
the reference's section boundaries; super-chunk boundaries are multiples
of chunk_lines, so chunk ids equal a fine-grained chunk_lines split's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prepare_extraction_units(
    df: DataFrame,
    chunk_lines: int = 64,
    super_factor: int = 256,
    pass_through_chars: int = 1 << 18,
) -> DataFrame:
    """(.., content) -> (.., base_chunk:int, unit:string).

    Small files: one unit, base_chunk=0, unit=content (no copies at all).
    Oversized files: units of ``chunk_lines*super_factor`` lines,
    base_chunk = i*super_factor, so the extractor's
    ``chunk_id = base_chunk + local_line // chunk_lines`` matches the
    fine-grained numbering exactly. Empty/whitespace files yield no units
    (A17 empty-result semantics).
    """
    group = chunk_lines * super_factor
    lines = F.split(F.col("content"), "\n")
    n_chunks = F.ceil(F.size(lines) / F.lit(group)).cast("int")
    units = F.when(
        ~F.col("content").rlike(r"\S"), F.array().cast("array<string>")
    ).when(
        F.length("content") <= pass_through_chars, F.array(F.col("content"))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(lines, i * group + 1, group), "\n"),
        )
    )
    out_cols = [c for c in df.columns if c != "content"]
    return (
        df.withColumn("_units", units)
        .select(*out_cols, F.posexplode("_units").alias("_ui", "unit"))
        .withColumn("base_chunk", F.col("_ui") * super_factor)
        .drop("_ui")
    )
