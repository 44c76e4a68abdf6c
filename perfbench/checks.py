"""Independent references for the program's outputs.

Tables are compared by an order-insensitive digest: the row count plus
the sum of a 60-bit md5 prefix of each row's ``\\x1f``-joined values.
Spark computes it in one aggregate; ``py_digest`` computes the same
number from Python tuples. Query results are compared with their DuckDB
oracle row for row after canonical formatting."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

SEP = "\x1f"


def _agg(df, cols):
    h = F.conv(F.substring(F.md5(F.concat_ws(
        SEP, *[F.col(c).cast("string") for c in cols])), 1, 15), 16, 10)
    return df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"))


def digests(tables: dict) -> dict:
    """{name: (rows, digest)} of ``{name: (DataFrame, columns)}``, in one
    Spark action."""
    union = None
    for name, (df, cols) in tables.items():
        one = _agg(df, cols).select(F.lit(name).alias("t"), "n", "s")
        union = one if union is None else union.unionByName(one)
    return {r["t"]: (int(r["n"]), int(r["s"] or 0))
            for r in union.collect()}


def py_digest(rows) -> tuple[int, int]:
    s = 0
    n = 0
    for r in rows:
        n += 1
        s += int(hashlib.md5(SEP.join(str(v) for v in r if v is not None)
                             .encode()).hexdigest()[:15], 16)
    return n, s


TRIPLE_COLS = ("subj", "pred", "obj", "kind", "repo", "path", "commit",
               "chunk_id")
OUTPUT_TABLES = ("triples", "entities", "aliases")


def canon(rows, cols) -> list:
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.6g}")
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def oracle_rows(docs_dir: str, names) -> dict:
    """{query: canonical rows} from the query's DuckDB oracle over the
    generated documents table."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{docs_dir}/documents.parquet'")
    out = {}
    for name in names:
        rel = con.sql(oracles[name])
        cols = rel.columns
        out[name] = canon([dict(zip(cols, r)) for r in rel.fetchall()],
                          sorted(cols))
    con.close()
    return out
