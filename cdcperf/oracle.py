"""The DuckDB last-writer-wins oracle and the order-independent digest.

LWW: per ``(repo, path)`` the row with the highest LSN wins; a winning
delete removes the key. Duplicate deliveries carry the same LSN and
identical rows, so which copy wins does not matter.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

COLS = ["repo", "path", "commit", "lang", "content"]

_LWW = """
SELECT repo, path, commit, lang, content FROM (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM read_parquet({files})
) WHERE rn = 1 AND op <> 'D'
"""


def lww_state(parquet_globs: list[str]) -> pa.Table:
    files = "[" + ", ".join(f"'{g}'" for g in parquet_globs) + "]"
    con = duckdb.connect()
    try:
        return con.execute(_LWW.format(files=files)).fetch_arrow_table()
    finally:
        con.close()


def digest_expr():
    """Spark column expressions: row count and the sum of a 64-bit row
    hash. Summing makes the digest independent of row order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.coalesce(F.col(c), F.lit("\u0000")) for c in COLS])
    return [F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")]


def digest(df) -> tuple[int, int]:
    row = df.select(*COLS).agg(*digest_expr()).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def oracle_digest(spark, state: pa.Table) -> tuple[int, int]:
    """Digest of the oracle's rows, hashed by the same expression."""
    return digest(spark.createDataFrame(state.select(COLS)))


def rows_by_key(state: pa.Table) -> dict[tuple[str, str], tuple]:
    cols = [state.column(c).to_pylist() for c in COLS]
    return {(r[0], r[1]): tuple(r) for r in zip(*cols)}
