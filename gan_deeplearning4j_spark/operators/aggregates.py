"""Aggregation operators (SURVEY §2.4): parameter averaging, losses, accuracy,
batch-norm statistics.

A1 — synchronous parameter averaging — is the reference's flagship aggregate
(ParameterAveragingTrainingMaster, dl4jGANComputerVision.java:324-330): the
global model is the element-wise mean of worker parameter vectors. Two
physical forms here:

1. ``parameter_average_sql`` — posexplode → groupBy(keys, pos) → avg →
   (optionally) re-collect. Pure SQL, DuckDB-oracleable, but explodes
   |params| × dim rows: the right shape when the "model" is a big long-form
   table already.
2. ``parameter_average_arrays`` — no explode: per-group fold of arrays with
   zip_with inside an aggregate over collect_list, or (for wide vectors) the
   applyInPandas fast path in kernels.py. O(groups) shuffle rows instead of
   O(groups × dim).

Scale: parameters are tiny relative to data (MB, not TB) — either form is a
broadcast-scale shuffle. The same operators double as general vector-column
aggregates (embedding centroids per key at 100 TB: posexplode form shuffles
rows × dim — use the array fold form, one shuffle row per group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def explode_vectors(
    df: DataFrame, vec_col: str, keys: list[str], pos_col: str = "pos",
    val_col: str = "value",
) -> DataFrame:
    """Long-form view: one row per (keys..., position, value), 0-based pos."""
    return df.select(
        *keys,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(pos_col, val_col),
    )


def parameter_average_sql(
    df: DataFrame, vec_col: str, keys: list[str]
) -> DataFrame:
    """A1, pure-SQL form: element-wise mean of vectors per key group."""
    return (
        explode_vectors(df, vec_col, keys)
        .groupBy(*keys, "pos")
        .agg(F.avg("value").alias("avg_value"))
    )


def parameter_average_arrays(
    df: DataFrame, vec_col: str, keys: list[str], out_col: str = "avg_vec"
) -> DataFrame:
    """A1, array-native form: sum arrays with a zip_with fold, divide by count.
    One shuffle row per group (vs × dim for the explode form)."""
    summed = df.groupBy(*keys).agg(
        F.count("*").alias("__n"),
        F.aggregate(
            F.collect_list(F.col(vec_col).cast("array<double>")),
            F.expr(f"array_repeat(0.0D, size(first({vec_col})))"),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("__sum"),
    )
    return summed.select(
        *keys,
        F.transform(F.col("__sum"), lambda s: s / F.col("__n")).alias(out_col),
    )


def batchnorm_stats(df: DataFrame, vec_col: str, keys: list[str]) -> DataFrame:
    """A5 training-mode statistics: per-element mean and (sample) variance per
    group — the μ/σ² of a BatchNormalization layer
    (dl4jGANComputerVision.java:132-134 et al.)."""
    return (
        explode_vectors(df, vec_col, keys)
        .groupBy(*keys, "pos")
        .agg(
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )


def binary_xent(p: Column, y: Column) -> Column:
    """A2 per-row binary cross-entropy (LossFunctions.XENT + sigmoid,
    dl4jGANComputerVision.java:159-163). Aggregate with avg()."""
    return -(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p))


def categorical_xent(logits: Column, label: Column) -> Column:
    """A3 per-row categorical cross-entropy from raw logits (MCXENT + softmax,
    dl4jGANComputerVision.java:357-363): logsumexp(logits) - logits[label].
    Sequential fold → deterministic."""
    exps = F.aggregate(
        F.transform(logits, lambda v: F.exp(v)), F.lit(0.0), lambda a, v: a + v
    )
    picked = F.element_at(logits, label + F.lit(1)).cast("double")
    return F.log(exps) - picked


def accuracy(df: DataFrame, pred: Column, label: Column, keys: list[str] | None = None) -> DataFrame:
    """A4: mean(pred == label), optionally per group. Returns n / n_correct /
    acc columns (counts are exact; acc is their ratio)."""
    agg = [
        F.count("*").alias("n"),
        F.sum((pred == label).cast("long")).alias("n_correct"),
    ]
    gb = df.groupBy(*keys) if keys else df.groupBy()
    out = gb.agg(*agg)
    return out.withColumn("acc", F.round(F.col("n_correct") / F.col("n"), 6))


def pearson_moments() -> list[Column]:
    """Exact integer moment sums of columns ``x`` and ``z`` as
    decimal(38,0) aggregates: n, sx, sz, sxz, sxx, szz. Integer sums are
    order-free, so ``pearson_ppm`` over them is engine-exact."""
    x, z = F.col("x"), F.col("z")
    return [
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("sx"),
        F.sum(z).cast("decimal(38,0)").alias("sz"),
        F.sum(x * z).cast("decimal(38,0)").alias("sxz"),
        F.sum(x * x).cast("decimal(38,0)").alias("sxx"),
        F.sum(z * z).cast("decimal(38,0)").alias("szz"),
    ]


def pearson_ppm() -> Column:
    """floor(1e6 · Pearson r) (long) from the ``pearson_moments`` columns:
    the exact integer cross terms cast to double once, then one
    correctly-rounded double expression (no transcendental), identical
    bits in Spark and DuckDB."""
    n, sx, sz = F.col("n"), F.col("sx"), F.col("sz")
    num = (n * F.col("sxz") - sx * sz).cast("double")
    dx = (n * F.col("sxx") - sx * sx).cast("double")
    dz = (n * F.col("szz") - sz * sz).cast("double")
    return F.floor(
        num / F.sqrt(dx) / F.sqrt(dz) * F.lit(1000000.0)
    ).cast("long")


def calibration_scores(docs: DataFrame) -> DataFrame:
    """The calibration queries' scored documents: (score_e6, pos, bin)
    with a length score ``least(n_chars, 2000) * 500`` in e6 units, the
    label ``pos`` = 1 for English, and ``bin`` its equal-width confidence
    bin ``score_e6 div 1e5`` clamped to 9 — all 64-bit integers."""
    return docs.select(
        (F.least(F.col("n_chars"), F.lit(2000)) * 500).cast("long")
        .alias("score_e6"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).withColumn(
        "bin",
        F.least(F.expr("score_e6 div 100000"), F.lit(9)).cast("long"),
    )


def price_percentile_brackets(
    lineitem: DataFrame, pcts: list[int], accuracy: int,
) -> DataFrame:
    """Guarantee bracket of Spark's ``approx_percentile(c, p, accuracy)``
    per l_returnflag over the line prices in integer cents ``c``: for each
    percent p in ``pcts``, the exact values at ranks (p/100 ∓ 2/accuracy)·n
    (clamped to [1, n]) as ``lo{p}_c``/``hi{p}_c``, and ``within{p}`` —
    whether the sketch's answer lies between them. The bracket is exact
    integer rank arithmetic, so an oracle replays it; the sketch value
    itself is layout-dependent and surfaces only through the verdict."""
    key = "l_returnflag"
    df = lineitem.select(
        key,
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
    )
    a = accuracy
    r = df.withColumn(
        "r", F.row_number().over(Window.partitionBy(key).orderBy("c"))
    )
    ranks = []
    for p in pcts:
        mid = p * a // 100
        ranks += [
            F.greatest(F.lit(1).cast("long"),
                       F.expr(f"({mid - 2} * n) div {a}")).alias(f"lo{p}r"),
            F.least(F.col("n"), F.expr(f"({mid + 2} * n + {a - 1}) div {a}"))
            .alias(f"hi{p}r"),
        ]
    k = df.groupBy(key).agg(F.count("*").alias("n")).select(key, "n", *ranks)
    brackets = r.join(k, key).groupBy(key).agg(*(
        F.min(F.when(F.col("r") == F.col(f"{b}{p}r"), F.col("c")))
        .alias(f"{b}{p}_c")
        for p in pcts for b in ("lo", "hi")
    ))
    approx = df.groupBy(key).agg(*(
        F.expr(f"approx_percentile(c, {p / 100}D, {a})").alias(f"a{p}")
        for p in pcts
    ))
    out = []
    for p in pcts:
        out += [
            f"lo{p}_c", f"hi{p}_c",
            F.col(f"a{p}").between(F.col(f"lo{p}_c"), F.col(f"hi{p}_c"))
            .alias(f"within{p}"),
        ]
    return brackets.join(approx, key).select(key, *out).orderBy(key)
