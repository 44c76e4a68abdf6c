"""Cross-engine-stable numeric helpers.

Spark's ``round()`` converts the double to BigDecimal and HALF_UPs the
decimal representation; DuckDB rounds in double math. On boundary values
(x.xxxx5) they disagree. ``round_half_up`` computes
``floor(x * 10^n + 0.5) / 10^n`` in pure double arithmetic — the same
bits on both engines — so oracle value-hash comparisons are stable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, n: int) -> Column:
    k = float(10**n)
    return F.floor(col * k + F.lit(0.5)) / k
