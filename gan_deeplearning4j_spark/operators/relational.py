"""Relational operators: stratified sampling, per-group top-k, unions, argmax
joins (SURVEY §2.3 R4, §2.5 J2, §2.6 W1-W3).

Scale notes:
- ``stratified_sample_exact`` is one shuffle on the stratum key; with AQE skew
  handling a hot label splits automatically. The window only materializes
  row_number ≤ k per partition (rank pushdown in Spark ≥3.5 prunes early).
- ``top_k_per_group`` same shape: single hash partition by group, heap-like
  limit via row_number; never a global sort.
- ``positional_join`` materializes explicit ids — never rely on file order
  (reference's eval joins predictions to labels by CSV row order, J2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.money import cents_nonneg
from ..functions.windows import bounded_window
from .. import DEFAULT_SEED


def deterministic_key(col: Column, a: int = 48271, m: int = 65537) -> Column:
    """Lehmer-style deterministic pseudo-random ordering key. Used where a
    cross-engine-reproducible 'random' order is required (the DuckDB oracle
    cannot replay Spark's rand(seed) stream)."""
    return (col * F.lit(a)) % F.lit(m)


def stratified_sample_exact(
    df: DataFrame,
    stratum: str,
    k: int,
    order_key: Column | None = None,
    id_col: str | None = None,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """R4: exactly-k-per-stratum sample without replacement
    (gan.ipynb raw 122-143: np.random.choice(idx[y==c], 100, replace=False)).

    Deterministic variant: order by ``order_key`` (default: Lehmer key over
    ``id_col``). Random variant: pass order_key=F.rand(seed).
    """
    if order_key is None:
        if id_col is None:
            raise ValueError("need order_key or id_col")
        order_key = deterministic_key(F.col(id_col))
    tiebreak = [F.col(id_col)] if id_col else []
    w = Window.partitionBy(stratum).orderBy(order_key, *tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame, group: list[str], order: list[Column], k: int, rank_col: str = "rn"
) -> DataFrame:
    """W2: top-k per group via row_number (no global sort)."""
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def vstack(*dfs: DataFrame) -> DataFrame:
    """P4 row-concat: UNION ALL by column name."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def asof_previous(
    df: DataFrame,
    partition: str,
    order: str,
    value_when: Column,
    out_col: str = "asof_value",
) -> DataFrame:
    """As-of join, self form: for each row, the most recent preceding value of
    ``value_when`` (a conditional column, null when not applicable) within the
    partition. One window pass — no join at all, which is the cheapest as-of
    physical plan when the probe and build sides share a table.

    Two-table as-of joins reduce to this shape via unionByName + this window
    (tag the sides, take value from the build side) — one shuffle total.
    """
    w = (
        Window.partitionBy(partition)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.last(value_when, ignorenulls=True).over(w))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: explode the (small) right side into `salt`
    replicas, scatter the left side across them. Turns one hot key's single
    straggler partition into `salt` parallel partitions.

    Use when AQE's skew splitting isn't available (e.g. the skew is in a
    broadcast-ineligible mid-size table). Correctness-equivalent to a plain
    join on ``key`` for left-preserving modes only: a right/full outer join
    would emit every unmatched right row once per replica.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched right rows "
            f"(right side is replicated {salt}x); use one of {sorted(allowed)}"
        )
    l = left.withColumn("__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)))
    r = right.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def range_frame_sum_halo(
    df: DataFrame,
    key: str,
    ts_col: str,
    val_col: "Column",
    frame: int,
    chunk: int,
    out_col: str = "frame_sum",
) -> DataFrame:
    """Trailing-``frame``-second RANGE sum per ``key``, parallelized across
    a hot key by HALO CHUNKING — the skew escape hatch for bounded time
    frames (SCALE.md round-10 skewed-window stress: AQE never splits a
    skewed WINDOW partition, so a key owning 20% of the fact serializes the
    whole frame pass through one task; measured +76% on the RANGE shape).

    Exact-equivalence plan (pinned by tests): each row lands in time block
    ``ts div chunk`` and is ADDITIONALLY replicated as a non-output halo
    row into the next block when it falls in the block's last ``frame``
    seconds. Because ``chunk >= frame`` (asserted), any row's trailing
    frame reaches at most ``frame`` seconds into the previous block — all
    of which was replicated forward — so a window partitioned by
    (key, block) sees every frame member. Halo rows feed sums but emit no
    output row. The hot key's single partition becomes
    ceil(span/chunk) parallel partitions at the cost of <= frame/chunk
    replication.

    ``val_col`` must be an integer column/expression (exact, order-free
    sums — float frame sums differ between incremental and re-scan
    accumulation orders).
    """
    if chunk < frame:
        raise ValueError(
            f"range_frame_sum_halo: chunk ({chunk}) must be >= frame "
            f"({frame}) or a frame can span two previous blocks"
        )
    ts = F.col(ts_col)
    base = df.withColumn("__val", val_col).withColumn(
        "__blk", (ts / F.lit(chunk)).cast("long")
    )
    own = base.withColumn("__halo", F.lit(False))
    halo = (
        base.filter(ts >= (F.col("__blk") + 1) * chunk - frame)
        .withColumn("__blk", F.col("__blk") + 1)
        .withColumn("__halo", F.lit(True))
    )
    both = own.unionByName(halo)
    w = (
        Window.partitionBy(key, "__blk")
        .orderBy(ts_col)
        .rangeBetween(-(frame - 1), Window.currentRow)
    )
    return (
        both.withColumn(out_col, F.sum("__val").over(w))
        .filter(~F.col("__halo"))
        .drop("__val", "__blk", "__halo")
    )


def salted_twophase_agg(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, "Column"],
    salt: int = 8,
    count_col: str | None = "n",
) -> DataFrame:
    """Skew-mitigated groupBy for algebraic aggregates (SCALE.md skew
    ladder #3): pre-aggregate under (keys..., salt) so a hot key's rows
    reduce across ``salt`` parallel tasks, then re-aggregate by keys —
    two small shuffles instead of one skewed one. Results are exactly the
    plain groupBy's for the supported algebraic aggs (COUNT + integer
    SUMs; extend with min/max by passing them as sums entries — any
    commutative, associative agg whose merge is itself).

    Spark's own partial (map-side) aggregation already de-skews MOST
    groupBys — the reduce side receives one partial row per (mapper, key).
    This operator exists for the case partials can't save: high-cardinality
    COMPOSITE state per key (e.g. collect-ish aggregates rewritten as
    sums) or a downstream window forcing a key shuffle anyway; it is also
    the demo shape pinned by the plan test (HashAggregate x4: partial +
    final per phase)."""
    salt_col = F.pmod(
        F.xxhash64(*[F.col(k) for k in keys],
                   F.monotonically_increasing_id()),
        F.lit(salt),
    )
    pre_aggs = [v.alias(f"__p_{k}") for k, v in sums.items()]
    if count_col:
        pre_aggs.append(F.count(F.lit(1)).alias("__p_cnt"))
    pre = (
        df.withColumn("__salt", salt_col)
        .groupBy(*keys, "__salt")
        .agg(*pre_aggs)
    )
    fin_aggs = [
        F.sum(f"__p_{k}").alias(k) for k in sums
    ]
    if count_col:
        fin_aggs.append(F.sum("__p_cnt").alias(count_col))
    return pre.groupBy(*keys).agg(*fin_aggs)


def drop_hot_keys(
    df: DataFrame, keys: list[str], max_rows: int
) -> DataFrame:
    """Drop every row whose key appears more than ``max_rows`` times.

    The LSH/fingerprint bucket-size guard. Shape matters at 100 TB: a
    ``count() over (partition by key)`` window shuffles EVERY row into key
    partitions — and the hot keys this guards against are exactly the skew
    that makes that shuffle hurt. Instead: groupBy(key).count() (map-side
    partial agg, the hot-key list that emerges is tiny by construction —
    it's the keys with the most rows) → broadcast anti-join the hot list
    back. Same semantics, no full-width skewed shuffle.
    """
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_rows)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


def assert_small(df: DataFrame, max_rows: int, context: str) -> DataFrame:
    """Guard for deliberately-quadratic oracle baselines: refuse to run when
    the input exceeds ``max_rows``. ``limit(n+1).count()`` keeps the guard
    itself O(max_rows) — it never scans the full table at scale."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{context}: input exceeds {max_rows} rows — this is a quadratic "
            "oracle baseline for small scale factors; use the LSH/banded "
            "scale path instead"
        )
    return df


def positional_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """J2: row-i ↔ row-i alignment via explicit monotonically-increasing ids.

    Only valid for same-source, same-order frames; engine rule is to carry a
    real id column instead — this exists for reference-compat.
    """
    lw = bounded_window(F.monotonically_increasing_id())
    l2 = left.withColumn("__rid", F.row_number().over(lw))
    r2 = right.withColumn("__rid", F.row_number().over(lw))
    return l2.join(r2, "__rid").drop("__rid")


def merge_upsert(
    target: DataFrame, updates: DataFrame, keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics as one full-outer join: matched rows take the
    update's values, unmatched update rows insert, unmatched target rows
    carry through; rows whose update has ``delete_col`` true are dropped.

    Column resolution: the result schema is the TARGET schema; any target
    column missing from ``updates`` keeps its target value on match.

    Scale: one shuffle per side on the merge key (zero if both sides are
    bucketed on it — sources/layouts.write_bucketed); no window, no
    driver data. This is the engine's CDC-apply primitive — the same plan
    Delta/Iceberg MERGE compiles to when the ON clause is an equi-join.
    """
    upd_cols = set(updates.columns)
    # a USING-join coalesces the key columns, so per-side key references
    # disappear; a non-null marker column is the reliable "matched" signal
    t = target.alias("__t")
    u = updates.withColumn("__is_upd", F.lit(True)).alias("__u")
    joined = t.join(u, keys, "full_outer")
    if delete_col is not None:
        joined = joined.filter(
            ~F.coalesce(F.col(f"__u.{delete_col}"), F.lit(False))
        )
    matched = F.col("__u.__is_upd").isNotNull()
    out_cols = []
    for c in target.columns:
        if c in keys:
            # key columns are coalesced by the USING join already
            out_cols.append(F.col(c).alias(c))
        elif c in upd_cols and (delete_col is None or c != delete_col):
            out_cols.append(
                F.when(matched, F.col(f"__u.{c}"))
                .otherwise(F.col(f"__t.{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"__t.{c}").alias(c))
    return joined.select(*out_cols)


def a_es_keyed(df: DataFrame, id_col: str, weight: "Column",
               salt: str = "es|") -> DataFrame:
    """Efraimidis-Spirakis A-ES priority keys (2006, IPL): attach the
    deterministic exponential sampling key -ln(u)/w, where u is an md5
    dyadic uniform of the row id (52 mantissa bits, never 0 or 1) and
    w the positive integer weight. The k rows with the SMALLEST keys
    per group are a weighted sample without replacement — and because
    min-k selection is associative, the same keys drive the batch
    window form (``weighted_sample_es``) and the streaming GroupState
    form (``streaming/stateful.streaming_weighted_sample``) to
    bit-identical samples. Adds columns ``w``, ``key_e12``
    (floor(key*1e12), the engine-invariant integer surrogate)."""
    u = (
        (
            F.expr(
                f"conv(substr(md5(cast(concat('{salt}',"
                f" cast({id_col} as string)) as binary)), 1, 13),"
                " 16, 10)"
            ).cast("long").cast("double") + 0.5
        ) / 4503599627370496.0
    )
    key = -F.log(u) / weight
    return df.select(
        "*", weight.alias("w"), key.alias("key"),
        F.floor(key * 1e12).cast("long").alias("key_e12"),
    )


def hourly_grid(ev: DataFrame) -> DataFrame:
    """Hourly resampling grid of events (user_id, ts, value): one row
    (user_id, bar, v) per hour from each user's first to last event hour,
    ``v`` the bar's summed value cents, null where the user had no event
    that hour. The gaps are what the resample queries fill."""
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bar")
    ).agg(F.sum(cents_nonneg(F.col("value"))).alias("v"))
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("bar"),
    )
    return grid.join(hourly, ["user_id", "bar"], "left")
