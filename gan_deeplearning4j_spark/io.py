"""Sources and sinks (SURVEY §2.1, S1-S10).

The reference reads headerless 785-column float CSV via CSVRecordReader
(dl4jGANComputerVision.java:372-374) and writes CSVs cell-by-cell with
FileWriter.append (:554-597).  Engine equivalents: the MNIST file is a text
scan split into one ``array<double>`` column (``read_mnist_csv``), other
headerless CSVs a schema-declared ``spark.read.csv``; sinks are
``df.write.csv``, with Parquet as the native format.

Note (S7 compat): the reference closes its FileWriter inside the row loop
(dl4jGANComputerVision.java:569) — a bug.  Engine semantics are "write the
full relation"; we do not reproduce the bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Inferred parquet schema per (sf_dir, table) — METADATA only, never data.
# A bare ``spark.read.parquet(path)`` runs a schema-inference job (a footer
# read through the executor pool) on EVERY call; each query fn() loads 1-3
# tables, so that job was paid once per table per query construction — the
# bulk of the bench's measured construction_share on declarative queries
# (~0.6 s/call under load, guide §5: the driver should do almost no work).
# The first load of a table still infers from the parquet footers (nothing
# is assumed about the input); later loads pass the schema explicitly,
# which skips only the re-inference of bytes that cannot have changed
# (the corpus dirs are immutable inputs). Keyed by the sf_dir string so
# different scale factors / scratch corpora never share an entry. Schemas
# are session-independent Python objects, so a foreign session (the
# verification driver's) hits the same cache safely.
_SCHEMA_CACHE: dict[tuple[str, str], T.StructType] = {}


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S2-equivalent scan: columnar Parquet with pushdown-friendly layout.

    Sets UTC session time first: timestamp columns are timezone-naive in the
    parquet and every oracle comparison treats them as UTC — without this, a
    query is only correct if some earlier query on the shared session
    happened to set the timezone (an ordering dependency the verification
    driver is free to break)."""
    from .session import ensure_engine_conf

    ensure_engine_conf(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_parquet(spark, sf_dir, name)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events table to ``ts: timestamp`` + ``ts_nanos: bigint``
    regardless of how the parquet writer encoded time.

    Generations of the test corpus have shipped ``ts`` either as
    TIMESTAMP(NANOS) (which Spark reads as long under the legacy conf) or as
    a plain micro-precision TIMESTAMP/TIMESTAMP_NTZ; detect from the physical
    schema rather than assuming one. The NTZ→TIMESTAMP cast is only
    value-preserving under a UTC session timezone, so force the engine conf
    here too — load_table callers already have it, but a direct caller on a
    non-UTC session would otherwise get shifted ts/ts_nanos.
    """
    from .session import ensure_engine_conf

    ensure_engine_conf(spark)
    # set BEFORE the first (schema-inferring) read: the cached schema must
    # be the one this conf produces (TIMESTAMP(NANOS) reads as long)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type in ("long", "bigint"):
        # integer div, not /1000: double division of ~1.7e18-ns longs exceeds
        # 53-bit mantissa precision and lands ~12% of timestamps 1µs off
        ts = F.timestamp_micros(F.expr("ts div 1000")).alias("ts")
        ts_nanos = F.col("ts").alias("ts_nanos")
    else:
        ts = F.col("ts").cast("timestamp").alias("ts")
        ts_nanos = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).alias(
            "ts_nanos"
        )
    return df.select(
        "event_id",
        ts,
        ts_nanos,
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def mnist_like_schema(n_features: int = 784) -> T.StructType:
    """The reference's implicit CSV schema (position 784 = label,
    dl4jGANComputerVision.java:68), made explicit."""
    fields = [T.StructField(f"px{i}", T.DoubleType(), False) for i in range(n_features)]
    fields.append(T.StructField("label", T.DoubleType(), False))
    return T.StructType(fields)


def read_headerless_csv(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S1/S2/S9: headerless comma CSV scan with a declared schema."""
    return spark.read.schema(schema).option("header", False).csv(path)


def read_mnist_csv(
    spark: SparkSession, path: str, n_features: int = 784
) -> DataFrame:
    """S3: scan the 785-field lines straight into one vector column.

    Replaces RecordReaderDataSetIterator(rr, batch, 784, 10)
    (dl4jGANComputerVision.java:376-377): each non-blank line is split on
    commas; the first ``n_features`` cells become one ``features
    array<double>`` column and the last one ``label int``; batching is
    implicit in Arrow batches. A text scan, not ``read_headerless_csv``
    with ``mnist_like_schema``: declaring 785 typed columns and packing
    them back into an array costs seconds of plan analysis per call, and
    yields the same rows. Blank lines are skipped as the CSV reader skips
    them; a line with any other field count raises when an action runs.
    """
    n = n_features + 1
    cells = F.split(F.col("value"), ",")
    checked = F.when(F.size(cells) == n, cells).otherwise(F.raise_error(F.format_string(
        "%s: MNIST CSV line has %d fields, expected %d", F.lit(path), F.size(cells), F.lit(n)
    )))
    lines = spark.read.text(path).filter(F.col("value") != "").select(checked.alias("cells"))
    return lines.select(
        F.slice("cells", 1, n_features).cast("array<double>").alias("features"),
        F.element_at("cells", n).cast("double").cast("int").alias("label"),
    )


def write_headerless_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6/S7/S8: headerless CSV sink (full-relation semantics)."""
    df.write.mode(mode).option("header", False).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S10-equivalent artifact sink (weights tables, checkpoints)."""
    df.write.mode(mode).parquet(path)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType | None = None) -> DataFrame:
    """JSON lines source. Always pass a schema in production: schema
    inference is a full extra pass over the data (fatal at 100 TB), and an
    explicit schema keeps column pruning + predicate pushdown effective."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON lines sink (one object per row; splittable when uncompressed or
    zstd-framed)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str,
             schema: T.StructType | None = None) -> DataFrame:
    """ORC source — columnar like parquet; pushdown/pruning apply the same."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)
