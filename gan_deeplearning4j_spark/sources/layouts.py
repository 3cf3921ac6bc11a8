"""Physical-layout helpers for 100 TB-scale tables: partitioned and bucketed
parquet, the co-located-join story.

Why this exists: at cluster scale, the dominant cost of the engine's repeated
fact-table joins (orders ⋈ lineitem et al.) is the shuffle. Writing both
sides bucketed by the join key (`write_bucketed`) lets Spark plan a
shuffle-FREE sort-merge join (bucket pruning + no Exchange); writing
time-partitioned (`write_time_partitioned`) gives partition pruning on date
predicates — the scan reads only matching directories.

These are write-side choices, so they live with the sources: the engine's
contract is that a table registered via `write_bucketed` joins against any
same-bucketed table with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed managed table (saveAsTable — bucketing metadata needs the
    catalog). Join two tables bucketed on the same key/count → no Exchange."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def write_time_partitioned(
    df: DataFrame, path: str, ts_col: str, granularity: str = "day"
) -> None:
    """Directory-partitioned by date — predicate on the partition column
    prunes whole directories at planning time."""
    part = F.date_format(F.col(ts_col), "yyyy-MM-dd" if granularity == "day" else "yyyy-MM")
    df.withColumn("__pt", part).write.mode("overwrite").partitionBy("__pt").parquet(path)


def zorder_value(cols: list, bits: int = 16):
    """Z-order (Morton) interleave of N integer columns into one long.

    Each column is first rank-normalized by the CALLER to [0, 2^bits); this
    function only interleaves: bit k of column i lands at position
    k*N + i. Pure Catalyst bit math (shifts/ors over a generated expression
    tree of bits*N terms — small enough to stay in codegen), no UDF.
    """
    n = len(cols)
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(
                F.shiftleft(bit, b * n + i).cast("long")
            )
    return out


def rank_normalize(df: DataFrame, col: str, bits: int = 16) -> DataFrame:
    """Map a column to [0, 2^bits) by value-range scaling (min/max from a
    1-row aggregate joined back as a broadcast literal — no sort, no window;
    an equi-depth variant would use approx quantiles the same way)."""
    stats = df.agg(
        F.min(col).alias("__lo"), F.max(col).alias("__hi")
    )
    scale = F.lit((1 << bits) - 1)
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            f"__{col}_rank",
            F.when(
                F.col("__hi") == F.col("__lo"), F.lit(0)
            ).otherwise(
                ((F.col(col) - F.col("__lo"))
                 / (F.col("__hi") - F.col("__lo")) * scale).cast("long")
            ),
        )
        .drop("__lo", "__hi")
    )


def write_zordered(
    df: DataFrame, path: str, cols: list[str], bits: int = 16,
    n_files: int = 16,
) -> None:
    """Z-order-clustered parquet: rank-normalize the cluster columns,
    interleave into a Morton key, range-partition + sort by it, write.

    Why at 100 TB: parquet row-group min/max stats prune on ONE sort column
    well; multi-dimensional predicates (user AND time, brand AND size) need
    values co-located in ALL dims at once. The Morton curve gives every
    clustered column locality ~1/N of the key's bits, so a selective
    predicate on ANY subset of the columns skips most row groups —
    the same design as Delta/Iceberg OPTIMIZE ZORDER, done with plain
    DataFrame ops (range exchange + in-partition sort, no global sort)."""
    z = df
    for c in cols:
        z = rank_normalize(z, c, bits)
    zkey = zorder_value([F.col(f"__{c}_rank") for c in cols], bits)
    (
        z.withColumn("__z", zkey)
        .drop(*[f"__{c}_rank" for c in cols])
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    )


def parquet_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path``, via the Hadoop
    FileSystem API — works on any configured FS (local, HDFS, S3A),
    not just the driver's local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    n, total = 0, 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet") or (
            name.startswith("part-") and not name.endswith(".crc")
        ):
            n += 1
            total += f.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target_bytes) files.

    The operational tool every long-lived 100 TB table needs — streaming
    sinks and per-batch CDC snapshots accrete thousands of KB-sized
    files, and open-file/footers overhead then dominates scan time.

    ``shuffle=False`` (default) uses ``coalesce`` — a narrow,
    shuffle-free merge of adjacent partitions, the right cost model for
    compaction (output sizes may vary ± a partition). ``shuffle=True``
    uses ``repartition`` for evenly-sized output at the price of a full
    exchange. File accounting goes through the Hadoop FileSystem API, so
    the same call works against HDFS/S3A paths, not only local disk.

    Returns {"in_files", "in_bytes", "out_files", "out_partitions"}.
    """
    n_in, total = parquet_file_stats(spark, in_path)
    n_parts = max(1, -(-total // target_bytes))
    df = spark.read.parquet(in_path)
    df = df.repartition(n_parts) if shuffle else df.coalesce(n_parts)
    df.write.mode("overwrite").parquet(out_path)
    n_out, _ = parquet_file_stats(spark, out_path)
    return {
        "in_files": n_in,
        "in_bytes": total,
        "out_files": n_out,
        "out_partitions": n_parts,
    }


def greedy_bin_plan(
    buckets: DataFrame,
    size_col: str = "n_rows",
    order_col: str = "pt",
    target: int | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """O(n) greedy compaction-bin assignment — the scale path for
    ★compaction_plan_audit's fold.

    The query's Catalyst ``aggregate()`` fold builds its output array with
    ``array_append``, which COPIES the accumulator per element — O(n²):
    measured 56 s at 50k buckets vs 1.4 s at 5k (SCALE.md round-11 fold
    stress). Fine for the query's fixed 32 buckets; wrong for a real
    OPTIMIZE planner folding thousands of files per partition. This form
    runs the same greedy recurrence (new bin when acc + size > target,
    an oversized first-in-bin bucket keeps its own bin) as a numpy loop
    inside ONE applyInPandas group per ``group_cols`` key (default: one
    global plan) — Arrow-batched, executor-side, linear. Returns
    (group_cols..., order_col, size_col, bin_id).

    At 100 TB the natural grouping is the table partition: thousands of
    independent folds of thousands of files each, one shuffle on the
    partition key, no driver involvement.

    ``target`` is required when ``group_cols`` is set (r11 advice): the
    ungrouped default derives ONE global target (global_sum // 10), and a
    silently-derived PER-GROUP target (group_sum // 10) diverges from it
    — callers who want per-group auto-targets must compute and pass them
    explicitly.
    """
    import pandas as pd

    spark = buckets.sparkSession
    gcols = list(group_cols or [])
    if gcols and target is None:
        raise ValueError(
            "greedy_bin_plan: target is required with group_cols — a "
            "derived per-group target (group_sum // 10) would silently "
            "diverge from the ungrouped global default"
        )

    def plan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        tgt = target if target is not None else max(
            1, int(pdf[size_col].sum()) // 10)
        bins, binid, acc = [], 1, 0
        for n in pdf[size_col]:
            n = int(n)
            if acc > 0 and acc + n > tgt:
                binid += 1
                acc = n
            else:
                acc += n
            bins.append(binid)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[gcols + [order_col, size_col, "bin_id"]]

    schema = ", ".join(
        f"{c} {t}" for c, t in buckets.select(
            *(gcols + [order_col, size_col])).dtypes
    ) + ", bin_id bigint"
    if gcols:
        return buckets.groupBy(*gcols).applyInPandas(plan, schema=schema)
    # one global plan: a single synthetic group (bucket lists are
    # metadata-scale — thousands of rows, one task)
    one = buckets.withColumn("__g", F.lit(0))
    out = one.groupBy("__g").applyInPandas(
        lambda pdf: plan(pdf.drop(columns="__g")), schema=schema)
    return out
