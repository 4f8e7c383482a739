"""Output checks: order-independent value hashes and per-cycle invariants."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


def _canonical(df: DataFrame) -> list:
    """Columns in name order; MAP columns as sorted entry arrays, because
    xxhash64 rejects maps and map entry order is not a value."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return cols


def hash_aggregates(df: DataFrame) -> list:
    """Aggregates of an order-independent value hash: the row count, the
    sum of the low 32 bits of every row's xxhash64 and the xor of the full
    hashes. Independent of row and partition order; the sum cannot
    overflow a long below 2^31 rows."""
    h = F.xxhash64(*_canonical(df))
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.bit_xor(h).alias("x"),
    ]


def digest(row) -> str:
    return (f"{int(row['n']):x}-{int(row['lo'] or 0):x}-"
            f"{int(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}")


def value_hash(df: DataFrame, distinct_col: str) -> tuple[str, int, int]:
    """(hash, rows, distinct values of ``distinct_col``) in one job."""
    row = df.agg(*hash_aggregates(df), F.count_distinct(distinct_col).alias("d")).collect()[0]
    return digest(row), int(row["n"]), int(row["d"])


def cycle_problems(res, top_n: int, db_rows: int, db_distinct_urls: int,
                   crawl_fetch_rows: int) -> list[str]:
    """Per-cycle invariants of a committed ``CycleResult``."""
    out = []
    if db_distinct_urls != db_rows:
        out.append(f"crawldb urls not unique: {db_distinct_urls} distinct of {db_rows}")
    if res.db_size != db_rows:
        out.append(f"db_size {res.db_size} != committed rows {db_rows}")
    if res.db_size != sum(res.status_counts.values()):
        out.append(f"db_size {res.db_size} != sum(status_counts) "
                   f"{sum(res.status_counts.values())}")
    if res.generated > top_n:
        out.append(f"generated {res.generated} > topN {top_n}")
    if res.generated <= 0:
        out.append("generated nothing")
    if res.fetched != crawl_fetch_rows:
        out.append(f"fetched {res.fetched} != crawl_fetch rows {crawl_fetch_rows}")
    return out
