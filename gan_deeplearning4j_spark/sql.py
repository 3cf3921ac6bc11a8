"""SQL entry surface: run plain Spark SQL over the engine's tables.

The reference has no SQL layer (SURVEY §0 — its "queries" are dataflow
pipelines), but this engine's API commitment is DataFrame *and* SQL: every
relational operator reachable through the DataFrame registry is equally
reachable through ``spark.sql`` once the tables are registered. Catalyst
plans both identically — the view layer below adds zero execution cost
(views are plan fragments, not materializations).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from .io import TABLES, load_table


def register_tables(spark: SparkSession, sf_dir: str,
                    prefix: str = "") -> list[str]:
    """Register every engine table as a temp view (``events`` goes through
    the nanos-safe loader). Returns the view names."""
    names = []
    for t in TABLES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot: register views and run a SQL query against them."""
    register_tables(spark, sf_dir)
    return spark.sql(query)


@contextmanager
def scripting(spark: SparkSession) -> Iterator[None]:
    """Enable SQL scripting (BEGIN..END blocks) for the ``with`` block, then
    restore the session's previous setting, so a later query on the shared
    session does not inherit scripting mode."""
    key = "spark.sql.scripting.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


# SQL scalar UDFs (Spark SQL `CREATE FUNCTION ... RETURN <expr>`): the
# engine's cross-engine float-discipline helpers, callable from plain SQL.
# These are expression macros, not Python UDFs — Catalyst inlines the body
# into the calling plan, so they cost nothing at execution time and stay
# inside whole-stage codegen.
_MACROS: dict[str, str] = {
    # money/ratio surrogates (README "float discipline")
    "cents": "(x DOUBLE) RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)",
    "ppm": "(num BIGINT, den BIGINT) RETURNS BIGINT "
           "RETURN num * 1000000 div den",
    # the one hash family a DuckDB oracle can replay (functions/text.py)
    "portable_hash60": "(s STRING) RETURNS BIGINT "
                       "RETURN CAST(conv(substr(md5(s), 1, 15), 16, 10) "
                       "AS BIGINT)",
    # fixed-point grid used by the exact ANN/covariance paths
    "fixp20": "(x DOUBLE) RETURNS BIGINT "
              "RETURN CAST(floor(x * 1048576) AS BIGINT)",
    # whitespace token count — same tokenizer as functions/text.py
    # tokens()/n_tokens (split(trim(s), '\s+')): trims, collapses runs of
    # whitespace, and counts tabs/newlines as separators, so SQL users get
    # the exact counts the Column-API token family reports.
    "ws_token_count": "(s STRING) RETURNS INT "
                      "RETURN size(split(trim(s), '\\\\s+'))",
}


def register_macros(spark: SparkSession) -> list[str]:
    """Create the engine's SQL scalar functions (idempotent). Returns the
    function names; afterwards e.g.
    ``SELECT portable_hash60(text) FROM documents`` plans as a pure
    Catalyst expression."""
    for name, body in _MACROS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    return list(_MACROS)
