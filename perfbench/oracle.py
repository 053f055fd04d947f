"""DuckDB oracle comparison for the analytic panel: the same rows up to
order, after sorting columns by name and normalising values the two
engines type differently (integral floats vs ints, decimals, dates)."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal


def duckdb_views(sf_dir: str):
    import duckdb

    from wing_binlog_go_spark.tables import TABLE_NAMES, table_path

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        s = format(v, "f")
        return s.rstrip("0").rstrip(".") if "." in s else s
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat() + " 00:00:00.000000"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return _norm(v.to_pydatetime())
    return str(v)


def _canonical(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def matches(spark_pdf, con, sql: str) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    duck = con.execute(sql).fetchdf()
    if sorted(spark_pdf.columns) != sorted(duck.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck.columns)}"
    a, b = _canonical(spark_pdf), _canonical(duck)
    if len(a) != len(b):
        return f"{len(a)} rows, oracle has {len(b)}"
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"first differing row {first}"
    return None
