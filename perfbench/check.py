"""Output digests and their DuckDB check.

Every timed action reduces an operation's output to a digest: ``(row
count, sum of xxhash64 over all columns)``.  The sum is taken as
``decimal(38,0)``, so it cannot overflow, and it does not depend on row
order or partitioning.

The first pass of a run fetches each output's rows together with their
row hashes instead, so the digest and the rows come from one execution.
After the timed passes the rows are compared, as a multiset, with the
operation's DuckDB twin, using the value normalisation of the
repository's oracle tests (float ``repr``, ISO datetimes, columns sorted
by name).  Only if they agree does the first pass's digest become the
reference that every warm pass is checked against.
"""

from __future__ import annotations

import datetime
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HASH = "__perfbench_row_hash"


class OracleMismatch(Exception):
    """The Spark output of an operation differs from its DuckDB twin."""


def digest(df: DataFrame) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


def fetch(df: DataFrame) -> tuple[list[str], list[tuple], tuple[int, int]]:
    """All rows of ``df`` and their digest, from one execution."""
    cols = df.columns
    rows = df.select(*cols, F.xxhash64(*cols).alias(_HASH)).collect()
    dig = (len(rows), sum(int(r[_HASH]) for r in rows))
    return cols, [tuple(r)[:-1] for r in rows], dig


def _norm(v):
    if isinstance(v, float):
        v = float(v)
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat() + "T00:00:00"
    return str(v)


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check_oracle(cols: list[str], rows: list[tuple], con, sql: str) -> None:
    """Raise ``OracleMismatch`` unless ``rows`` equal DuckDB's ``sql`` as a multiset."""
    duck = con.execute(sql).fetchdf()
    duck_cols = list(duck.columns)
    duck_rows = [
        tuple(None if v is None or v is pd.NaT else v for v in row)
        for row in duck.itertuples(index=False, name=None)
    ]
    if sorted(cols) != sorted(duck_cols):
        raise OracleMismatch(f"columns {sorted(cols)} vs DuckDB {sorted(duck_cols)}")
    spark_ms = _multiset(cols, rows)
    duck_ms = _multiset(duck_cols, duck_rows)
    if spark_ms != duck_ms:
        only_s = [r for r in spark_ms if r not in set(duck_ms)][:3]
        only_d = [r for r in duck_ms if r not in set(spark_ms)][:3]
        raise OracleMismatch(
            f"{len(spark_ms)} vs {len(duck_ms)} rows; spark-only {only_s}; duckdb-only {only_d}"
        )
