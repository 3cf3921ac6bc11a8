"""Date helpers shared by the query layer."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_day(col: Column | str) -> Column:
    """Days since 1970-01-01 (int) of a date, timestamp or ``yyyy-MM-dd``
    string — the integer day axis of the time-series queries, which a
    DuckDB oracle replays as ``datediff('day', DATE '1970-01-01', d)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))


def in_year(col: str, year: int) -> Column:
    """``col`` (a timestamp) falls in calendar year ``year``: a half-open
    [Jan 1, next Jan 1) range that pushes down as two scan predicates."""
    return (F.col(col) >= F.lit(f"{year}-01-01").cast("timestamp")) & (
        F.col(col) < F.lit(f"{year + 1}-01-01").cast("timestamp")
    )
