"""Round-4 surface widening: sampling, skyline, islands, graph-degree,
bitmap segments, robust/nonparametric statistics, drift metrics, n-gram
LMs, classic classifiers, and allocation/audit primitives.

Families a 100 TB training-data / analytics engine needs beyond the round-3
surface (reference analogue: the notebook's ad-hoc pandas analysis cells,
gan.ipynb raw 399-438, generalized). Wave 1: priority sampling
(Duffield/Lund/Thorup CACM'07), skyline with bucket prefilter (Börzsönyi
ICDE'01 family), gaps-and-islands SCD-2, degree histograms, bit_or
segment bitmasks, division-free 2σ outliers, fixed-point covariance /
centroid similarity, equi-depth boundaries, k-per-group hash sampling,
replayable count-min sketch, interpolated Kneser-Ney bigram LM +
document surprisal, clamped-balance folds, seasonality / backtests /
chi-square, market-basket rules, Gini, linear attribution. Wave 2:
Hamilton largest-remainder allocation, sequence-regex matching
(MATCH_RECOGNIZE-lite), SES backtests, winsorized means, Benford
audits, sweep-line concurrency, exact Wasserstein/KS drift matrices,
incremental aggregate-state merge, OLS trends, Mann-Whitney U,
tokenizer fertility, a replayable Bloom filter, a Naive Bayes
classifier, join-skew profiling, conversion-latency quartiles,
positional phrase search, MAD, and lag-7 autocorrelation.

Cross-engine float discipline matches queries_ext: integer cents/ppm
surrogates before any SUM; where a real-valued output is unavoidable the
two engines run the *identical* IEEE double op sequence on identical
integers and only then floor (engine-invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.money import cents_nonneg

from .functions.windows import bounded_window
from .functions.text import (
    portable_hash60, portable_hash60_sql, quality_verdict,
)
from .operators.aggregates import pearson_moments, pearson_ppm
from .registry import _t, register

# ---------------------------------------------------------------------------
# Weighted priority sampling (R4 family: deterministic weighted downsample)
# ---------------------------------------------------------------------------

_PRI_KEY_SQL = "l_orderkey || '|' || l_linenumber"


@register(
    "priority_sample_topk",
    oracle=f"""
    WITH pri AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             (CAST(l_quantity AS BIGINT) * 1099511627776)
               // (({portable_hash60_sql(_PRI_KEY_SQL)} % 1073741824) + 1)
               AS priority
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, qty, CAST(priority AS BIGINT) AS priority
    FROM pri
    ORDER BY priority DESC, l_orderkey, l_linenumber
    LIMIT 200
    """,
    doc="Weighted priority sample (Duffield/Lund/Thorup priority sampling): "
        "each row draws priority w/u with u uniform from a portable 30-bit "
        "hash of its key, and the global top-k by priority is a "
        "weight-proportional sample without replacement. Entirely integer: "
        "priority = (w * 2^40) div (h+1), exact in both engines (positive "
        "operands, truncating division). Scale: no shuffle at all — the "
        "plan is scan -> TakeOrderedAndProject, each partition keeps its "
        "local top-200 and the driver merges 200 rows per partition; the "
        "classic one-pass bounded-memory weighted sampler",
)
def q_priority_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    h = (portable_hash60(key) % F.lit(1073741824)) + F.lit(1)
    qty = F.col("l_quantity").cast("long")
    pri = li.select(
        "l_orderkey",
        "l_linenumber",
        qty.alias("qty"),
        (qty * F.lit(1099511627776)).cast("long").alias("_w40"),
        h.alias("_h"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "qty",
        F.expr("_w40 div _h").alias("priority"),
    )
    return pri.orderBy(
        F.desc("priority"), "l_orderkey", "l_linenumber"
    ).limit(200)


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier with bucket prefilter
# ---------------------------------------------------------------------------

@register(
    "skyline_parts",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    )
    SELECT p_partkey, price_c, p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
        AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
    ORDER BY price_c, p_partkey
    """,
    doc="2-D skyline (Pareto frontier, minimize price / maximize size; "
        "Börzsönyi et al. ICDE'01). The oracle is the quadratic NOT-EXISTS "
        "dominance definition; the engine never runs it. Engine plan: "
        "(1) bucket prefilter — group price into fixed-width buckets, "
        "running max of size over strictly-cheaper buckets (a tiny "
        "aggregate, broadcast back): any row at or under its prefix bound "
        "is provably dominated by a strictly-cheaper row, and in random "
        "data almost everything dies here; (2) the exact window test "
        "(strict-prefix RANGE max + equal-price group max) runs on the "
        "few survivors. Scale: one small groupBy + broadcast join on the "
        "full data, global sort only over the surviving candidate set",
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        cents_nonneg(F.col("p_retailprice")).alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    # -- stage 1: bucket prefilter (strictly-cheaper bucket => strictly
    #    cheaper price, so its max size dominates anything <= it here)
    b = p.withColumn("bkt", F.expr("price_c div 1000"))
    bstats = b.groupBy("bkt").agg(F.max("p_size").alias("bmax"))
    wprev = (
        bounded_window("bkt").rangeBetween(Window.unboundedPreceding, -1)
    )
    bound = bstats.select(
        "bkt", F.max("bmax").over(wprev).alias("prev_max")
    )
    cand = b.join(F.broadcast(bound), "bkt").filter(
        F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max"))
    )
    # -- stage 2: exact dominance test on the candidate set
    w_lt = bounded_window("price_c").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_eq = Window.partitionBy("price_c")
    sky = cand.select(
        "p_partkey",
        "price_c",
        "p_size",
        F.max("p_size").over(w_lt).alias("m_lt"),
        F.max("p_size").over(w_eq).alias("m_eq"),
    ).filter(
        (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("p_size")))
        & (F.col("p_size") == F.col("m_eq"))
    )
    return sky.select("p_partkey", "price_c", "p_size").orderBy(
        "price_c", "p_partkey"
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands / SCD Type-2 intervals over the event stream
# ---------------------------------------------------------------------------

@register(
    "scd2_user_state",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), isl AS (
      SELECT user_id, event_type, us,
             SUM(chg) OVER (PARTITION BY user_id
                            ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM e
    ), g AS (
      SELECT user_id, CAST(island AS BIGINT) AS island,
             event_type,
             MIN(us) AS valid_from_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM isl GROUP BY user_id, island, event_type
    )
    SELECT user_id, island, event_type, valid_from_us,
           coalesce(lead(valid_from_us)
                    OVER (PARTITION BY user_id ORDER BY island), -1)
             AS valid_to_us,
           n_events
    FROM g
    """,
    doc="Gaps-and-islands -> SCD Type-2 validity intervals: collapse each "
        "user's consecutive runs of the same event_type into islands "
        "(lag-change flag + running sum), then [valid_from, valid_to) "
        "intervals via lead over the island table — the change-data "
        "modeling pattern for slowly-changing dimensions. Scale: both "
        "windows and the groupBy share the user_id partitioning, so the "
        "whole query is ONE shuffle on user_id; every step after the "
        "exchange is partition-local (sort + window + partial agg)",
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")  # integer div ('/' would round via double)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = ev.select(
        "user_id", "event_type", us.alias("us"), "event_id"
    ).withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    isl = e.withColumn(
        "island",
        F.sum("chg").over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    g = isl.groupBy("user_id", "island", "event_type").agg(
        F.min("us").alias("valid_from_us"),
        F.count("*").alias("n_events"),
    )
    wl = Window.partitionBy("user_id").orderBy("island")
    return g.select(
        "user_id",
        F.col("island").cast("long").alias("island"),
        "event_type",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(wl), F.lit(-1)
        ).alias("valid_to_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Graph degree histogram (profile before running graph algorithms)
# ---------------------------------------------------------------------------

@register(
    "degree_histogram",
    oracle="""
    WITH deg AS (
      SELECT l_partkey,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS degree
      FROM lineitem GROUP BY l_partkey
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM deg GROUP BY degree
    ORDER BY degree
    """,
    doc="Degree distribution of the part–supplier bipartite graph (distinct "
        "suppliers per part, then parts per degree) — the shape profile "
        "that decides salting/skew strategy before any graph algorithm "
        "(pagerank_fixed_topk, triangle_count) runs. Scale: COUNT(DISTINCT) "
        "per key is a two-phase partial-distinct aggregate (no global "
        "distinct), then the histogram groupBy runs on one row per part; "
        "the second shuffle carries only (degree) pairs",
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    deg = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Bitmap segment membership (bit_or-folded behavior masks)
# ---------------------------------------------------------------------------

_TYPE_BIT_SQL = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
    "WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 WHEN 'view' THEN 16 "
    "ELSE 0 END"
)


@register(
    "segment_bitmask_counts",
    oracle=f"""
    WITH m AS (
      SELECT user_id,
             CAST(bit_or({_TYPE_BIT_SQL}) AS BIGINT) AS mask
      FROM events GROUP BY user_id
    )
    SELECT mask,
           CAST(bit_count(mask) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM m GROUP BY mask
    ORDER BY mask
    """,
    doc="Bitmap segment membership: fold each user's event types into one "
        "integer bitmask (bit_or aggregate over per-type bits), then count "
        "users per exact behavior combination — the compact "
        "audience-segmentation primitive (a 2^k-cell cube from one pass). "
        "Scale: bit_or is map-side combinable, so shuffle #1 carries one "
        "int per user; shuffle #2 carries one row per observed mask "
        "(<= 2^5). The mask column is also the building block for "
        "roaring-style audience intersection without re-scanning events",
)
def q_segment_bitmask_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "view", 16)
        .otherwise(0)
    )
    m = ev.groupBy("user_id").agg(
        F.bit_or(bit).cast("long").alias("mask")
    )
    return (
        m.groupBy("mask")
        .agg(
            F.bit_count("mask").cast("long").alias("n_types"),
            F.count("*").alias("n_users"),
        )
        .select("mask", "n_types", "n_users")
        .orderBy("mask")
    )


# ---------------------------------------------------------------------------
# Robust outliers: division-free exact 2-sigma test
# ---------------------------------------------------------------------------

@register(
    "zscore_outlier_counts",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(c) AS HUGEINT) AS sx,
             SUM(CAST(c AS HUGEINT) * c) AS sxx
      FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(MIN(s.n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN (s.n * c.c - s.sx) * (s.n * c.c - s.sx)
                              > 4 * (s.n * s.sxx - s.sx * s.sx)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM c JOIN s USING (event_type)
    GROUP BY c.event_type
    """,
    doc="Per-group 2-sigma outlier counts with NO division and NO floats: "
        "|x - mean| > 2*stddev is algebraically (n*x - Sx)^2 > "
        "4*(n*Sxx - Sx^2) over exact integer-cents moments, so the verdict "
        "per row is engine-exact (built-in STDDEV is a float one-pass "
        "accumulation whose result is order-dependent). Products go "
        "through decimal(38,0) / HUGEINT — int64 overflows at sf>=1. "
        "Scale: one map-side-combinable aggregate (5 groups), broadcast "
        "back, one more tiny aggregate; the fact table is scanned twice "
        "but shuffled never",
)
def q_zscore_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", cents_nonneg(F.col("value")).alias("c")
    )
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sxx"),
    )
    j = ev.join(F.broadcast(s), "event_type")
    dev = F.col("n") * F.col("c") - F.col("sx")
    thresh = F.lit(4).cast("decimal(38,0)") * (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.min("n").cast("long").alias("n"),
            F.sum(F.when(dev * dev > thresh, 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .select("event_type", "n", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Exact feature covariance (fixed-point integer moments; PCA front door)
# ---------------------------------------------------------------------------

_COV_D = 8          # leading embedding dims covered
_COV_FP = 1048576   # 2^20 fixed-point scale (lossless on doubles)


def _cov_oracle() -> str:
    sums = ", ".join(
        f"SUM(v[{i + 1}]) AS s{i}" for i in range(_COV_D)
    )
    prods = ", ".join(
        f"SUM(CAST(v[{i + 1}] AS HUGEINT) * v[{j + 1}]) AS p{i}_{j}"
        for i in range(_COV_D)
        for j in range(i + 1, _COV_D)
    )
    branches = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"CAST(floor(CAST(n * p{i}_{j} - s{i} * s{j} AS DOUBLE) "
        f"/ CAST(n AS DOUBLE) / CAST(n AS DOUBLE) "
        f"/ 1099511627776 * 1000000000) AS BIGINT) AS cov_ppb FROM s"
        for i in range(_COV_D)
        for j in range(i + 1, _COV_D)
    )
    return f"""
    WITH f AS (
      SELECT list_transform(embedding[1:{_COV_D}],
                            x -> CAST(floor(CAST(x AS DOUBLE) * {_COV_FP})
                                      AS BIGINT)) AS v
      FROM embeddings
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, {sums}, {prods} FROM f
    )
    SELECT i, j, cov_ppb FROM ({branches}) ORDER BY i, j
    """


@register(
    "covariance_pairs_exact",
    oracle=_cov_oracle(),
    doc=f"Exact pairwise covariance over the leading {_COV_D} embedding "
        "dims — the moment computation under PCA/whitening — from "
        "fixed-point integers: floor(x * 2^20) is lossless cross-engine "
        "(power-of-two scale on identical doubles), all moment sums are "
        "exact integers, and the only float step is the final identical "
        "IEEE division sequence, floored to ppb. Built-in COVAR_POP is "
        "order-dependent float accumulation; this is not. Scale: a single "
        "map-side-combinable global aggregate of d + d(d-1)/2 integer "
        "sums — one row crosses the wire per partition; for d=768 "
        "embeddings the same shape holds with the partial row at ~2.4 MB "
        "(still far under shuffle block sizes)",
)
def q_covariance_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = [
        F.floor(
            F.element_at("embedding", i + 1).cast("double") * _COV_FP
        ).cast("long")
        for i in range(_COV_D)
    ]
    aggs = [F.count("*").cast("decimal(38,0)").alias("n")]
    aggs += [
        F.sum(v[i]).cast("decimal(38,0)").alias(f"s{i}")
        for i in range(_COV_D)
    ]
    aggs += [
        F.sum((v[i] * v[j]).cast("decimal(38,0)")).alias(f"p{i}_{j}")
        for i in range(_COV_D)
        for j in range(i + 1, _COV_D)
    ]
    s = emb.agg(*aggs)
    nd = F.col("n").cast("double")

    def cov_ppb(i: int, j: int):
        num = (
            F.col("n") * F.col(f"p{i}_{j}")
            - F.col(f"s{i}") * F.col(f"s{j}")
        ).cast("double")
        return F.floor(
            num / nd / nd / F.lit(1099511627776.0) * F.lit(1000000000.0)
        ).cast("long")

    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                cov_ppb(i, j).alias("cov_ppb"),
            )
            for i in range(_COV_D)
            for j in range(i + 1, _COV_D)
        ]
    )
    return (
        s.select(F.explode(pairs).alias("p"))
        .select("p.i", "p.j", "p.cov_ppb")
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# Exact equi-depth histogram boundaries (percentile_disc replay, no floats)
# ---------------------------------------------------------------------------

def _priority_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, price_c): each order's price in integer cents."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        cents_nonneg(F.col("o_totalprice")).alias("price_c"),
    )


def _priority_price_cum(o: DataFrame) -> DataFrame:
    """Exact per-priority cumulative weights of distinct prices:
    (o_orderpriority, price_c, cw = orders priced <= price_c, n = the
    priority's orders). Two-level cumulative decomposition (see
    mad_robust_scale): price cents are near-unique, so a per-group cumsum
    over distinct values would run at |groups| parallelism over
    fact-scale rows; bucketing by ``price_c div 1000`` adds a bucket
    prefix sum and keeps the row-level window per (group, bucket)."""
    agg = o.groupBy("o_orderpriority", "price_c").agg(
        F.count("*").alias("cnt")
    ).withColumn("bkt", F.expr("price_c div 1000"))
    bstat = agg.groupBy("o_orderpriority", "bkt").agg(
        F.sum("cnt").alias("bc")
    )
    wb = (
        Window.partitionBy("o_orderpriority").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bcum = bstat.select(
        "o_orderpriority", "bkt",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("before"),
        F.sum("bc").over(
            Window.partitionBy("o_orderpriority")
        ).alias("n"),
    )
    wi = (
        Window.partitionBy("o_orderpriority", "bkt").orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.join(F.broadcast(bcum), ["o_orderpriority", "bkt"]).select(
        "o_orderpriority", "price_c",
        (F.col("before") + F.sum("cnt").over(wi)).alias("cw"),
        "n",
    )


@register(
    "equi_depth_boundaries",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ), agg AS (
      SELECT o_orderpriority, price_c, COUNT(*) AS cnt
      FROM c GROUP BY o_orderpriority, price_c
    ), cum AS (
      SELECT o_orderpriority, price_c,
             SUM(cnt) OVER (PARTITION BY o_orderpriority
                            ORDER BY price_c
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
      FROM agg
    )
    SELECT o_orderpriority,
           CAST(MIN(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN 4 * cw >= n     THEN price_c END) AS BIGINT)
             AS q25_c,
           CAST(MIN(CASE WHEN 2 * cw >= n     THEN price_c END) AS BIGINT)
             AS q50_c,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * n THEN price_c END) AS BIGINT)
             AS q75_c
    FROM cum GROUP BY o_orderpriority
    """,
    doc="Exact equi-depth quartile boundaries (percentile_disc semantics: "
        "smallest value whose cumulative count reaches q*n) per group — "
        "the inputs to equi-depth histograms / optimizer statistics. The "
        "crossing test is integer-only (4*cum >= q4*n, no division, no "
        "interpolation), so boundaries are engine-exact where "
        "percentile_cont/approx_percentile float paths are not. Scale: "
        "pre-aggregate per (group, value) collapses the window input to "
        "distinct values (same single-shuffle shape as weighted_median); "
        "conditional MIN folds the three quartiles in one pass",
)
def q_equi_depth_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = _priority_price_cum(_priority_prices(spark, sf_dir))
    cw, n = F.col("cw"), F.col("n")
    return cum.groupBy("o_orderpriority").agg(
        F.min("n").alias("n"),
        F.min(F.when(4 * cw >= n, F.col("price_c"))).alias("q25_c"),
        F.min(F.when(2 * cw >= n, F.col("price_c"))).alias("q50_c"),
        F.min(F.when(4 * cw >= 3 * n, F.col("price_c"))).alias("q75_c"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-per-group sample (hash-ranked, WindowGroupLimit-pushed)
# ---------------------------------------------------------------------------

@register(
    "group_sample_k",
    oracle=f"""
    WITH r AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {portable_hash60_sql("CAST(doc_id AS VARCHAR)")},
                        doc_id) AS rn
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 5
    ORDER BY source, rn
    """,
    doc="Deterministic k-per-group sample: rank rows inside each group by a "
        "portable hash of their key and keep the first k — a seedless, "
        "layout-independent 'reservoir' whose membership is reproducible "
        "across runs, partitionings, and engines (rand()-based sampling is "
        "none of those). Scale: rn <= LITERAL lets Spark's "
        "InferWindowGroupLimit keep only k rows per group on the map side "
        "before the window shuffle — no group ever materializes fully",
)
def q_group_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        portable_hash60(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "source", "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# Label-centroid similarity matrix (inter-class affinity from exact moments)
# ---------------------------------------------------------------------------

def _centroid_oracle() -> str:
    return f"""
    WITH f AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_COV_FP})
                  AS BIGINT) AS x
      FROM embeddings
    ), s AS (
      SELECT label, d, SUM(x) AS s FROM f GROUP BY label, d
    ), n AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
      GROUP BY label
    ), dots AS (
      SELECT a.label AS i, b.label AS j,
             SUM(CAST(a.s AS HUGEINT) * b.s) AS dot
      FROM s a JOIN s b ON a.d = b.d AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT dots.i, dots.j,
           CAST(floor(CAST(dot AS DOUBLE)
                      / CAST(ni.n AS DOUBLE) / CAST(nj.n AS DOUBLE)
                      / 1099511627776 * 1000000000) AS BIGINT) AS dot_ppb
    FROM dots
    JOIN n ni ON ni.label = dots.i
    JOIN n nj ON nj.label = dots.j
    ORDER BY i, j
    """


@register(
    "centroid_similarity",
    oracle=_centroid_oracle(),
    doc="Inter-class affinity matrix: mean-embedding dot product for every "
        "label pair, from exact fixed-point moments — the diagnostic for "
        "class separability / semantic-dedup thresholds over an embedding "
        "column. Per-label per-dim integer sums are exact (floor(x*2^20) "
        "grid), the pairwise dot is an integer fold in decimal128, and "
        "only the final normalization runs the identical IEEE double "
        "sequence in both engines before flooring to ppb. Scale: one "
        "map-side-combinable groupBy(label) producing a d-length sum "
        "vector per class; the pair join touches |labels| rows — the "
        "100 TB cost is one scan + one tiny shuffle",
)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dim = 64
    fx = [
        F.floor(
            F.element_at("embedding", d + 1).cast("double") * _COV_FP
        ).cast("long")
        for d in range(dim)
    ]
    s = emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.array(*[F.sum(c) for c in fx]).alias("s"),
    )
    a, b = s.alias("a"), s.alias("b")
    pair = a.join(
        F.broadcast(b), F.col("a.label") < F.col("b.label")
    ).select(
        F.col("a.label").alias("i"),
        F.col("b.label").alias("j"),
        F.col("a.n").alias("ni"),
        F.col("b.n").alias("nj"),
        F.aggregate(
            F.zip_with(
                "a.s", "b.s", lambda x, y: (x * y).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    out = pair.select(
        "i", "j",
        F.floor(
            F.col("dot").cast("double")
            / F.col("ni").cast("double")
            / F.col("nj").cast("double")
            / F.lit(1099511627776.0)
            * F.lit(1000000000.0)
        ).cast("long").alias("dot_ppb"),
    )
    return out.orderBy("i", "j")


# ---------------------------------------------------------------------------
# Count-min sketch frequency estimation (mergeable sketch family, rows-only)
# ---------------------------------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 256  # counters per row


def _cms_oracle() -> str:
    def bucket(d: int, key: str) -> str:
        h = portable_hash60_sql(f"'{d}' || '|' || CAST({key} AS VARCHAR)")
        return f"({h} % {_CMS_W})"

    grid_rows = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'o_custkey')} AS bucket FROM orders"
        for d in range(_CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT o_custkey, exact, {d} AS d, "
        f"{bucket(d, 'o_custkey')} AS bucket FROM exact"
        for d in range(_CMS_D)
    )
    return f"""
    WITH exact AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact
      FROM orders GROUP BY o_custkey
      ORDER BY exact DESC, o_custkey LIMIT 20
    ), grid AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ({grid_rows}) GROUP BY d, bucket
    ), probe AS ({probe_rows})
    SELECT p.o_custkey, p.exact,
           CAST(MIN(g.cnt) AS BIGINT) AS estimate,
           CAST(MIN(g.cnt) - p.exact AS BIGINT) AS overshoot
    FROM probe p JOIN grid g ON g.d = p.d AND g.bucket = p.bucket
    GROUP BY p.o_custkey, p.exact
    ORDER BY exact DESC, o_custkey
    """


@register(
    "cms_heavy_hitters",
    oracle=_cms_oracle(),
    doc="Count-min sketch frequency estimation (Cormode/Muthukrishnan '05) "
        "built as a plain aggregation: each row increments one counter per "
        "hash row (d x w grid, portable md5 hashes), estimate = min over "
        "rows of the probed counter. Because the grid is a groupBy it is "
        "mergeable by construction (same contract as the HLL rollup) and — "
        "unlike an opaque sketch blob — bit-replayable by the DuckDB "
        "oracle, so the CMS guarantee (estimate >= exact, overshoot "
        "bounded by collisions) is hash-verified, not just property-"
        "tested. Scale: the shuffled grid is a fixed d*w = 1024 rows "
        "regardless of input size (map-side combine does the heavy "
        "lifting); probes broadcast-join the tiny grid",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_custkey").cast("string")

    def bucket(d: int):
        return portable_hash60(
            F.concat_ws("|", F.lit(str(d)), key)
        ) % _CMS_W

    cells = F.explode(
        F.array(
            *[
                F.struct(F.lit(d).alias("d"), bucket(d).alias("bucket"))
                for d in range(_CMS_D)
            ]
        )
    ).alias("c")
    grid = (
        orders.select(cells)
        .select("c.d", "c.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("exact"))
        .orderBy(F.desc("exact"), "o_custkey")
        .limit(20)
    )
    probe = exact.select("o_custkey", "exact", cells).select(
        "o_custkey", "exact", "c.d", "c.bucket"
    )
    return (
        probe.join(F.broadcast(grid), ["d", "bucket"])
        .groupBy("o_custkey", "exact")
        .agg(
            F.min("cnt").alias("estimate"),
            (F.min("cnt") - F.col("exact")).alias("overshoot"),
        )
        .orderBy(F.desc("exact"), "o_custkey")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (n-gram LM training, pure integer math)
# ---------------------------------------------------------------------------

def _doc_bigrams(docs: DataFrame, *keep: str) -> DataFrame:
    """One row (*keep, w1, w2) per adjacent word pair of each document's
    single-space split."""
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    pairs = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return docs.select(*keep, F.explode(pairs).alias("p")).select(
        *keep, "p.w1", "p.w2"
    )


def _kn_bigram_table(big: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney (d = 3/4) over the bigram occurrences
    ``big``: one row per bigram type, (w1, w2, c12, p_ppm) with
    P_KN(w2|w1) in exact integer ppm."""
    c = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    bt = c.agg(F.count("*").alias("bt"))  # |bigram types|: one scalar
    return c.select(
        "w1", "w2", "c12",
        F.sum("c12").over(Window.partitionBy("w1")).alias("c1"),
        F.count("*").over(Window.partitionBy("w1")).alias("nf1"),
        F.count("*").over(Window.partitionBy("w2")).alias("npre2"),
    ).crossJoin(F.broadcast(bt)).select(
        "w1", "w2", "c12",
        F.expr(
            "(4 * c12 - 3) * 1000000 div (4 * c1)"
            " + ((3 * nf1 * 1000000) div (4 * c1)) * npre2 div bt"
        ).alias("p_ppm"),
    )


@register(
    "kneser_ney_bigram_lm",
    oracle="""
    WITH s AS (SELECT string_split(text, ' ') AS w FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(w)),
                                            i -> {'w1': w[i], 'w2': w[i + 1]}))
                        AS p
               FROM s),
         c AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c12
               FROM b GROUP BY p.w1, p.w2),
         k AS (SELECT w1, w2, c12,
                      SUM(c12)  OVER (PARTITION BY w1) AS c1,
                      COUNT(*)  OVER (PARTITION BY w1) AS nf1,
                      COUNT(*)  OVER (PARTITION BY w2) AS npre2,
                      COUNT(*)  OVER ()                AS bt
               FROM c)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           CAST((4 * c12 - 3) * 1000000 // (4 * c1)
                + ((3 * nf1 * 1000000) // (4 * c1)) * npre2 // bt
                AS BIGINT) AS p_kn_ppm
    FROM k WHERE c12 >= 5
    ORDER BY p_kn_ppm DESC, w1, w2
    LIMIT 50
    """,
    doc="Interpolated Kneser-Ney bigram language model (Kneser/Ney ICASSP "
        "'95; Chen/Goodman '98 eq. 4.26) trained on the corpus — "
        "P(w2|w1) = max(c12-d,0)/c1 + d*N1+(w1,.)/c1 * N1+(.,w2)/B with "
        "discount d=3/4, the LM behind perplexity-based quality filters. "
        "With d a dyadic rational every term is exact integer ppm "
        "arithmetic ((4*c12-3)*1e6 div (4*c1) ...) — zero floats, so the "
        "trained probabilities hash-match SQL exactly. Scale: one shuffle "
        "builds the bigram-type table (map-side combined); all KN "
        "statistics are windows over that TYPE table (vocabulary-sized, "
        "orders smaller than the corpus), and the final top-50 is "
        "TakeOrderedAndProject",
)
def q_kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _kn_bigram_table(_doc_bigrams(_t(spark, sf_dir, "documents")))
    return (
        k.filter(F.col("c12") >= 5)
        .select("w1", "w2", "c12", F.col("p_ppm").alias("p_kn_ppm"))
        .orderBy(F.desc("p_kn_ppm"), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Clamped running balance (inventory semantics — fold, not window)
# ---------------------------------------------------------------------------

@register(
    "running_balance_clamped",
    oracle="""
    WITH RECURSIVE seq AS (
      -- per-user recursive-CTE fold, NOT list_reduce: DuckDB v1.0.0's
      -- vectorized list_reduce mis-folds rows in multi-row batches with
      -- varying list lengths (round-9 probe, SCALE.md)
      SELECT user_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END AS d,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM seq
      GROUP BY user_id
    ), walk AS (
      SELECT user_id, 0 AS it, CAST(0 AS BIGINT) AS acc FROM cnt
      UNION ALL
      SELECT w.user_id, w.it + 1, greatest(w.acc + s.d, 0)
      FROM walk w JOIN seq s ON s.user_id = w.user_id
                            AND s.rn = w.it + 1
    )
    SELECT w.user_id, c.n AS n_events, CAST(w.acc AS BIGINT) AS balance_c
    FROM walk w JOIN cnt c ON c.user_id = w.user_id AND w.it = c.n
    """,
    doc="Clamped running balance (inventory / wallet semantics): "
        "balance_t = max(balance_{t-1} + delta_t, 0), credits for "
        "purchase/signup, debits otherwise. The clamp makes the recurrence "
        "non-linear, so NO window frame expresses it (a windowed SUM "
        "cannot see its own clamped output) — it is an ordered left fold, "
        "the same shape as the EWMA recurrence: Spark ordered collect_list "
        "-> F.aggregate paired with DuckDB list_prepend+list_reduce, "
        "integer cents at every step so the fold is engine-exact. Scale: "
        "one shuffle on user_id; per-key state is that user's bounded "
        "event list (the unbounded-stream form is the same recurrence in "
        "applyInPandasWithState — streaming/stateful.py)",
)
def q_running_balance_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = cents_nonneg(F.col("value"))
    delta = F.when(
        F.col("event_type").isin("purchase", "signup"), cents
    ).otherwise(-cents)
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts_nanos").alias("o1"),
                F.col("event_id").alias("o2"),
                delta.alias("d"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "user_id",
            F.transform(F.col("ss"), lambda s: s["d"]).alias("ds"),
        )
    )
    return seq.select(
        "user_id",
        F.size("ds").cast("long").alias("n_events"),
        F.aggregate(
            "ds",
            F.lit(0).cast("long"),
            lambda acc, x: F.greatest(acc + x, F.lit(0).cast("long")),
        ).alias("balance_c"),
    )


# ---------------------------------------------------------------------------
# KN-LM document surprisal (perplexity quality filter with a real bigram LM)
# ---------------------------------------------------------------------------

@register(
    "kn_doc_surprisal",
    oracle="""
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         occ AS (SELECT doc_id,
                        unnest(list_transform(range(1, len(w)),
                                              i -> {'w1': w[i], 'w2': w[i + 1]}))
                          AS p
                 FROM s),
         big AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM occ),
         c AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
         k AS (SELECT w1, w2,
                      CAST((4 * c12 - 3) * 1000000
                           // (4 * SUM(c12) OVER (PARTITION BY w1))
                           + ((3 * COUNT(*) OVER (PARTITION BY w1) * 1000000)
                              // (4 * SUM(c12) OVER (PARTITION BY w1)))
                             * COUNT(*) OVER (PARTITION BY w2)
                             // COUNT(*) OVER ()
                           AS BIGINT) AS p_ppm
               FROM c),
         scored AS (
           SELECT b.doc_id,
                  CAST(floor(1000000.0
                             * ln(1000000.0 / greatest(k.p_ppm, 1)))
                       AS BIGINT) AS surp_e6
           FROM big b JOIN k ON k.w1 = b.w1 AND k.w2 = b.w2
         )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(surp_e6) AS BIGINT) AS total_surprisal_e6,
           CAST(floor(SUM(surp_e6) * 1.0 / COUNT(*)) AS BIGINT)
             AS mean_surprisal_e6
    FROM scored GROUP BY doc_id
    """,
    doc="Document surprisal under the interpolated Kneser-Ney bigram LM — "
        "the full perplexity quality filter (CCNet, Wenzek et al. 2020) "
        "with a real conditional LM, upgrading unigram_surprisal: each "
        "adjacent pair scores -ln P_KN(w2|w1), averaged per document. "
        "P_KN is exact integer ppm (same formula as kneser_ney_bigram_lm, "
        "unfiltered type table); only the log runs in floats, floored to "
        "micro-nats on identical doubles. Scale: LM statistics live on "
        "the bigram-TYPE table (Zipf-small); occurrences join the LM on "
        "(w1,w2) — the same key the type table was built on, so AQE "
        "reuses the partitioning — and the per-doc aggregate is tiny",
)
def q_kn_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = _doc_bigrams(_t(spark, sf_dir, "documents"), "doc_id")
    k = _kn_bigram_table(big).select("w1", "w2", "p_ppm")
    scored = big.join(k, ["w1", "w2"]).select(
        "doc_id",
        F.floor(
            F.lit(1000000.0)
            * F.log(
                F.lit(1000000.0)
                / F.greatest(F.col("p_ppm"), F.lit(1)).cast("double")
            )
        ).cast("long").alias("surp_e6"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("surp_e6").cast("long").alias("total_surprisal_e6"),
        F.floor(
            F.sum("surp_e6") * F.lit(1.0) / F.count("*")
        ).cast("long").alias("mean_surprisal_e6"),
    )


# ---------------------------------------------------------------------------
# Seasonality profile (hour-of-week grid, integer means)
# ---------------------------------------------------------------------------

@register(
    "seasonality_profile",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS mean_c
    FROM events
    GROUP BY dow, hod
    ORDER BY dow, hod
    """,
    doc="Hour-of-week seasonality profile: the 7x24 grid of event count and "
        "mean value that seasonal forecasting, anomaly baselines, and "
        "capacity planning all start from. Mean is integer-cents floor "
        "division (sum_c div n), engine-exact; ISO weekday (Mon=1) via "
        "weekday()+1 matches DuckDB isodow. Scale: one "
        "map-side-combinable aggregate into at most 168 groups — the "
        "shuffle carries 168 rows per partition regardless of input size",
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = cents_nonneg(F.col("value"))
    return (
        ev.select(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
            cents.alias("c"),
        )
        .groupBy("dow", "hod")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("sum_c"),
        )
        .select(
            "dow", "hod", "n", "sum_c",
            F.expr("sum_c div n").alias("mean_c"),
        )
        .orderBy("dow", "hod")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (predict day d by day d-7, exact MAE)
# ---------------------------------------------------------------------------

@register(
    "seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, d
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(a.n - b.n)) AS BIGINT) AS sum_abs_err,
           CAST(SUM(abs(a.n - b.n)) * 1000 // COUNT(*) AS BIGINT)
             AS mae_ppk
    FROM daily a JOIN daily b
      ON b.event_type = a.event_type AND b.d = a.d - 7
    GROUP BY a.event_type
    ORDER BY a.event_type
    """,
    doc="Seasonal-naive forecast backtest: predict each day's event count "
        "by the same weekday one week earlier and score exact MAE "
        "(permille, integer floor-div) per event type — the baseline every "
        "forecasting pipeline must beat, and the standard data-drift "
        "canary. The lag-7 lookup is an equi-join on (type, date-7), "
        "correct across date gaps where a row-offset LAG(7) silently is "
        "not. Scale: daily pre-aggregation reduces the fact table to "
        "|types|*|days| rows before the self-join — both sides tiny, one "
        "fact shuffle total",
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    j = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.date_sub(F.col("a.d"), 7)),
    )
    return (
        j.select(
            F.col("a.event_type").alias("event_type"),
            F.abs(F.col("a.n") - F.col("b.n")).alias("abs_err"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("abs_err").alias("sum_abs_err"),
        )
        .select(
            "event_type", "n_days", "sum_abs_err",
            F.expr("sum_abs_err * 1000 div n_days").alias("mae_ppk"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (exact per-cell integer contributions)
# ---------------------------------------------------------------------------

@register(
    "chi_square_independence",
    oracle="""
    WITH o AS (
      SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS obs
      FROM documents GROUP BY source, lang
    ), r AS (
      SELECT source, CAST(SUM(obs) AS HUGEINT) AS rt FROM o GROUP BY source
    ), c AS (
      SELECT lang, CAST(SUM(obs) AS HUGEINT) AS ct FROM o GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(obs) AS HUGEINT) AS n FROM o
    )
    SELECT CAST(tot.n AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM((o.obs * o.obs * 1000000 * tot.n) // (r.rt * c.ct))
                - 1000000 * MIN(tot.n) AS BIGINT) AS chi2_e6
    FROM o
    JOIN r USING (source) JOIN c USING (lang) CROSS JOIN tot
    GROUP BY tot.n
    """,
    doc="Chi-square independence test over the source x lang contingency "
        "table via the identity chi2 = N * sum(O^2/(R*C)) - N: each "
        "cell's contribution is floored to 1e-6 in exact integer "
        "arithmetic (decimal128 / HUGEINT products), then summed — "
        "order-free and engine-exact, where the textbook sum of float "
        "(O-E)^2/E terms depends on accumulation order. The "
        "drift/association screen for corpus composition audits. Scale: "
        "contingency cells, row and column totals are three tiny "
        "map-side-combinable aggregates off one scan; everything "
        "downstream joins |cells| rows",
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("source", "lang").agg(
        F.count("*").cast("decimal(38,0)").alias("obs")
    )
    r = o.groupBy("source").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("lang").agg(F.sum("obs").alias("ct"))
    tot = o.agg(F.sum("obs").alias("n"))
    j = (
        o.join(F.broadcast(r), "source")
        .join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(tot))
    )
    # `div` is integral division truncating toward zero — on positive
    # operands identical to DuckDB's `//` (a plain decimal `/` then cast
    # would round HALF_UP in Spark and drift from the oracle)
    per = j.select(
        F.col("n"),
        F.expr(
            "(obs * obs * CAST(1000000 AS DECIMAL(38,0)) * n)"
            " div (rt * ct)"
        ).alias("contrib_e6"),
    )
    return (
        per.groupBy("n")
        .agg(
            F.count("*").alias("n_cells"),
            (
                F.sum("contrib_e6")
                - F.lit(1000000) * F.col("n").cast("long")
            ).cast("long").alias("chi2_e6"),
        )
        .select(F.col("n").cast("long").alias("n"), "n_cells", "chi2_e6")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

@register(
    "market_basket_lift",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM b
    ), c1 AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM b
      GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS c12
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2
      HAVING COUNT(*) >= 3
    )
    SELECT p1, p2, c12,
           CAST(c12 * 1000000 // ca.c AS BIGINT) AS conf_ppm,
           CAST((c12 * n.n_baskets * 1000000) // (ca.c * cb.c) AS BIGINT)
             AS lift_ppm
    FROM pairs
    JOIN c1 ca ON ca.l_partkey = p1
    JOIN c1 cb ON cb.l_partkey = p2
    CROSS JOIN n
    ORDER BY lift_ppm DESC, p1, p2
    LIMIT 50
    """,
    doc="Market-basket association rules (Agrawal/Srikant VLDB'94 family): "
        "co-occurring part pairs within an order with support filter, "
        "confidence = c12/c(p1) and lift = c12*N/(c(p1)*c(p2)) — both as "
        "exact integer ppm (truncating div in both engines). The "
        "recommender / cross-sell primitive. Scale: baskets are bounded "
        "(TPC-H orders hold <= 7 lines), so the per-order pair self-join "
        "expands O(basket^2) per order, not O(n^2) globally; item and "
        "pair counts are map-side-combinable groupBys; top-50 via "
        "TakeOrderedAndProject",
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = b.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    c1 = b.groupBy("l_partkey").agg(F.count("*").alias("c"))
    # pair expansion scan-side off the per-order item array (baskets are
    # bounded, <= 7 lines) — one groupBy shuffle instead of the self-join's
    # two join shuffles; the array is a plain column so the nested lambda
    # does not re-evaluate a computed expression
    baskets = b.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_arr = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps")),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= 3)
    )
    ca = c1.withColumnRenamed("l_partkey", "p1").withColumnRenamed("c", "ca")
    cb = c1.withColumnRenamed("l_partkey", "p2").withColumnRenamed("c", "cb")
    j = pairs.join(ca, "p1").join(cb, "p2").crossJoin(F.broadcast(n))
    return (
        j.select(
            "p1", "p2", "c12",
            F.expr("c12 * 1000000 div ca").alias("conf_ppm"),
            # decimal128: c12 * n_baskets * 1e6 exceeds int64 once basket
            # counts pass ~1e10 (ANSI mode would throw); DuckDB's HUGEINT
            # widens automatically on the oracle side
            F.expr(
                "(CAST(c12 AS DECIMAL(38,0)) * n_baskets * 1000000)"
                " div (CAST(ca AS DECIMAL(38,0)) * cb)"
            ).cast("long").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "p1", "p2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue per nation (inequality metric)
# ---------------------------------------------------------------------------

@register(
    "gini_revenue_by_nation",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ), ranked AS (
      SELECT c_nationkey, x,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY x, o_custkey) AS i
      FROM rev
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(x) AS BIGINT) AS total_c,
           CAST((2 * SUM(CAST(i AS HUGEINT) * x)
                 - (COUNT(*) + 1) * CAST(SUM(x) AS HUGEINT)) * 1000000
                // (CAST(COUNT(*) AS HUGEINT) * SUM(x))
                AS BIGINT) AS gini_ppm
    FROM ranked GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="Gini coefficient of customer revenue within each nation — the "
        "inequality / concentration metric behind whale-detection and "
        "revenue-risk audits — via the rank identity "
        "G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) on integer "
        "cents, floored to ppm (HUGEINT/decimal128 products; ties broken "
        "by custkey so both engines rank identically). Scale: revenue "
        "pre-aggregates per customer first (one fact shuffle); the rank "
        "window and final aggregate are partitioned by nation, so no "
        "global sort exists anywhere",
)
def q_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                cents_nonneg(F.col("o_totalprice"))
            ).alias("x")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "o_custkey")
    ranked = rev.select(
        "c_nationkey", "x", F.row_number().over(w).alias("i")
    )
    g = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum("x").alias("total_c"),
        F.sum(
            (F.col("i").cast("decimal(38,0)") * F.col("x"))
        ).alias("six"),
    )
    return (
        g.select(
            "c_nationkey",
            "n_customers",
            "total_c",
            F.expr(
                "(2 * six - (n_customers + 1)"
                " * CAST(total_c AS DECIMAL(38,0))) * 1000000"
                " div (CAST(n_customers AS DECIMAL(38,0)) * total_c)"
            ).cast("long").alias("gini_ppm"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution (ppm credit split over the lookback window)
# ---------------------------------------------------------------------------

@register(
    "linear_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id,
           CAST(COUNT(c.cus) AS BIGINT) AS n_touches,
           CAST(coalesce(1000000 // nullif(COUNT(c.cus), 0), 0) AS BIGINT)
             AS credit_ppm,
           CAST(CASE WHEN COUNT(c.cus) = 0 THEN 1000000
                     ELSE 1000000 - COUNT(c.cus)
                          * (1000000 // COUNT(c.cus)) END AS BIGINT)
             AS residual_ppm
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.cus >= p.pus - 3600000000 AND c.cus < p.pus
    GROUP BY p.purchase_id
    """,
    doc="Linear multi-touch attribution: every click in the hour before a "
        "purchase shares the conversion credit equally — credit per touch "
        "in integer ppm (1e6 div k) with the floor remainder reported "
        "explicitly (residual_ppm), so total credit reconciles to exactly "
        "1e6 per conversion: the audit property float attribution models "
        "lose. Touchless purchases keep full residual. Scale: the "
        "user+time interval join is the streaming interval-join shape "
        "(joins.py) run in batch — one shuffle per side on user_id, "
        "per-user event lists bounded by the lookback window",
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        us.alias("pus"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), us.alias("cus")
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("cus") >= F.col("pus") - 3600000000)
        & (F.col("cus") < F.col("pus")),
        "left",
    )
    k = F.count("cus")
    return (
        j.groupBy("purchase_id")
        .agg(
            k.alias("n_touches"),
            F.coalesce(
                F.expr("1000000 div nullif(count(cus), 0)"), F.lit(0)
            ).cast("long").alias("credit_ppm"),
            F.when(k == 0, F.lit(1000000).cast("long"))
            .otherwise(
                F.lit(1000000)
                - k * F.expr("1000000 div nullif(count(cus), 0)")
            ).cast("long").alias("residual_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Proportional allocation with largest-remainder reconciliation (Hamilton)
# ---------------------------------------------------------------------------

@register(
    "budget_allocation_hamilton",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    ), tot AS (SELECT CAST(SUM(x) AS HUGEINT) AS t FROM rev),
    quota AS (
      SELECT c_nationkey, x,
             CAST((CAST(x AS HUGEINT) * 1000000) // tot.t AS BIGINT)
               AS base,
             CAST((CAST(x AS HUGEINT) * 1000000) % tot.t AS BIGINT) AS rem
      FROM rev CROSS JOIN tot
    ), short AS (
      SELECT CAST(1000000 - SUM(base) AS BIGINT) AS k FROM quota
    ), ranked AS (
      SELECT c_nationkey, x, base,
             ROW_NUMBER() OVER (ORDER BY rem DESC, c_nationkey) AS rr
      FROM quota
    )
    SELECT c_nationkey, x,
           CAST(base + CASE WHEN rr <= short.k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_ppm
    FROM ranked CROSS JOIN short
    ORDER BY c_nationkey
    """,
    doc="Proportional budget allocation with largest-remainder "
        "reconciliation (Hamilton's method): each nation gets "
        "floor(share * 1e6) and the leftover units go to the largest "
        "fractional remainders, so SUM(alloc_ppm) == 1e6 EXACTLY — the "
        "allocation primitive behind budget splits, sampling quotas, and "
        "shard sizing, where independent float rounding never reconciles. "
        "All integer (HUGEINT/decimal products, // and %); remainder ties "
        "broken by key so both engines rank identically. Scale: the fact "
        "table reduces to one row per group before any window; the "
        "remainder rank runs over |groups| rows",
)
def q_budget_allocation_hamilton(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                cents_nonneg(F.col("o_totalprice"))
            ).alias("x")
        )
    )
    tot = rev.agg(F.sum("x").cast("decimal(38,0)").alias("t"))
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "c_nationkey", "x",
        F.expr(
            "CAST((CAST(x AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)"
        ).alias("base"),
        F.expr(
            "CAST((CAST(x AS DECIMAL(38,0)) * 1000000) % t AS BIGINT)"
        ).alias("rem"),
    )
    short = quota.agg(
        (F.lit(1000000) - F.sum("base")).cast("long").alias("k")
    )
    ranked = quota.select(
        "c_nationkey", "x", "base",
        F.row_number().over(
            bounded_window(F.desc("rem"), "c_nationkey")
        ).alias("rr"),
    )
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "c_nationkey", "x",
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            ).cast("long").alias("alloc_ppm"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Session path pattern matching (MATCH_RECOGNIZE-lite over event sequences)
# ---------------------------------------------------------------------------

@register(
    "session_pattern_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(CASE event_type WHEN 'view' THEN 'v'
                                        WHEN 'click' THEN 'c'
                                        WHEN 'purchase' THEN 'p'
                                        WHEN 'signup' THEN 's'
                                        ELSE 'e' END, ''
                        ORDER BY epoch_us(ts), event_id) AS path
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(path) AS BIGINT) AS n_events,
           CAST(CASE WHEN regexp_matches(path, 'v[vc]*c[vc]*p')
                     THEN 1 ELSE 0 END AS BIGINT) AS engaged_purchase,
           CAST(len(regexp_extract_all(path, 'cp')) AS BIGINT)
             AS quick_buys
    FROM seq
    """,
    doc="Event-sequence pattern matching (MATCH_RECOGNIZE-lite): encode "
        "each user's ordered event stream as a compact symbol string and "
        "run regex predicates over it — 'view then click(s) then "
        "purchase' engagement flags and count of click->purchase bigrams. "
        "RE2-safe syntax (no lookaround) so Spark and DuckDB regex agree. "
        "Scale: ONE shuffle on user_id (ordered string_agg / fold), then "
        "scan-side regex over strings whose length is the user's event "
        "count; the pattern library extends without re-shuffling",
)
def q_session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts_nanos").alias("o1"),
                F.col("event_id").alias("o2"),
                sym.alias("s"),
            ).alias("t"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("t")).alias("ts"))
        .select(
            "user_id",
            F.array_join(
                F.transform(F.col("ts"), lambda t: t["s"]), ""
            ).alias("path"),
        )
    )
    return seq.select(
        "user_id",
        F.length("path").cast("long").alias("n_events"),
        F.when(
            F.col("path").rlike("v[vc]*c[vc]*p"), 1
        ).otherwise(0).cast("long").alias("engaged_purchase"),
        F.size(
            F.expr("regexp_extract_all(path, 'cp', 0)")
        ).cast("long").alias("quick_buys"),
    )


# ---------------------------------------------------------------------------
# Simple-exponential-smoothing one-step-ahead backtest (struct-acc fold)
# ---------------------------------------------------------------------------

def _daily_event_fold(
    spark: SparkSession, sf_dir: str, init, step,
) -> DataFrame:
    """Per event_type, the day-ordered daily event counts ``xs`` folded by
    ``step`` from the second day on, starting at ``init`` (which reads the
    first day as ``F.element_at("xs", 1)``): (event_type, n_days, a = the
    final accumulator)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    return (
        daily.select(
            "event_type", F.struct(F.col("d"), F.col("n")).alias("t")
        )
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("t")).alias("ts"))
        .select(
            "event_type",
            F.transform(F.col("ts"), lambda t: t["n"]).alias("xs"),
        )
        .select(
            "event_type",
            F.size("xs").cast("long").alias("n_days"),
            F.aggregate(
                F.slice("xs", 2, F.size("xs") - 1), init, step
            ).alias("a"),
        )
    )


@register(
    "ses_forecast_backtest",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, d
    ), seq AS (
      -- per-type recursive-CTE fold, NOT list_reduce: DuckDB v1.0.0's
      -- vectorized list_reduce mis-folds rows in multi-row batches with
      -- varying list lengths (round-9 probe, SCALE.md). Registers stay
      -- packed into one BIGINT (lv*2^32 + sae, each < 2^31).
      SELECT event_type, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily
    ), cnt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM seq
      GROUP BY event_type
    ), walk AS (
      SELECT s.event_type, 1 AS it, s.n * 4294967296 AS a
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT w.event_type, w.it + 1,
             ((s.n + 3 * (w.a // 4294967296)) // 4) * 4294967296
             + w.a % 4294967296 + abs(s.n - w.a // 4294967296)
      FROM walk w JOIN seq s ON s.event_type = w.event_type
                            AND s.rn = w.it + 1
    )
    SELECT w.event_type, c.n_days,
           CAST(w.a // 4294967296 AS BIGINT) AS level_final,
           CAST(w.a % 4294967296 AS BIGINT) AS sum_abs_err,
           CAST((w.a % 4294967296) * 1000 // (c.n_days - 1) AS BIGINT)
             AS mae_ppk
    FROM walk w JOIN cnt c ON c.event_type = w.event_type
                          AND w.it = c.n_days
    """,
    doc="Simple exponential smoothing (alpha=1/4) one-step-ahead backtest "
        "per event type: forecast each day by yesterday's level, score "
        "|actual - forecast|, update level = (x + 3*level) div 4 — an "
        "integer recurrence, so every step is engine-exact (classic SES "
        "with a dyadic alpha). The recurrence carries a STRUCT "
        "accumulator (level, error sum, step count) through Spark "
        "F.aggregate / DuckDB list_reduce — the general template for any "
        "multi-register sequential model no window expresses. Scale: "
        "daily pre-aggregation first, then one tiny ordered fold per "
        "group; compare mae_ppk with seasonal_naive_backtest to pick the "
        "baseline",
)
def q_ses_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    init = F.struct(
        F.element_at("xs", 1).alias("lv"),
        F.lit(0).cast("long").alias("sae"),
        F.lit(0).cast("long").alias("k"),
    )

    def step(acc, x):
        return F.struct(
            ((x + 3 * acc["lv"]) / 4).cast("long").alias("lv"),
            (acc["sae"] + F.abs(x - acc["lv"])).alias("sae"),
            (acc["k"] + 1).alias("k"),
        )

    fold = _daily_event_fold(spark, sf_dir, init, step)
    return fold.select(
        "event_type", "n_days",
        F.col("a.lv").alias("level_final"),
        F.col("a.sae").alias("sum_abs_err"),
        F.expr("a.sae * 1000 div a.k").alias("mae_ppk"),
    )


# ---------------------------------------------------------------------------
# Winsorized mean (clamp at exact p05/p95 boundaries, robust aggregate)
# ---------------------------------------------------------------------------

@register(
    "winsorized_mean_price",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ), agg AS (
      SELECT o_orderpriority, price_c, COUNT(*) AS cnt
      FROM c GROUP BY o_orderpriority, price_c
    ), cum AS (
      SELECT o_orderpriority, price_c,
             SUM(cnt) OVER (PARTITION BY o_orderpriority
                            ORDER BY price_c
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
      FROM agg
    ), bounds AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN 20 * cw >= n      THEN price_c END) AS lo,
             MIN(CASE WHEN 20 * cw >= 19 * n THEN price_c END) AS hi
      FROM cum GROUP BY o_orderpriority
    )
    SELECT c.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(b.lo) AS BIGINT) AS p05_c,
           CAST(MIN(b.hi) AS BIGINT) AS p95_c,
           CAST(SUM(least(greatest(c.price_c, b.lo), b.hi))
                // COUNT(*) AS BIGINT) AS wmean_c
    FROM c JOIN bounds b USING (o_orderpriority)
    GROUP BY c.o_orderpriority
    ORDER BY c.o_orderpriority
    """,
    doc="Winsorized mean: clamp each order's price into its group's exact "
        "[p05, p95] percentile_disc boundaries (integer crossing test, no "
        "interpolation), then take the integer-cents floor mean — the "
        "robust mean that survives fat tails, with boundaries exact where "
        "approx_percentile is not. Composes the equi_depth_boundaries "
        "machinery with a broadcast clamp join. Scale: boundary pass runs "
        "over (group, distinct value) rows; the clamp pass is a broadcast "
        "join of |groups| bounds into one scan — two scans, one tiny "
        "shuffle",
)
def q_winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _priority_prices(spark, sf_dir)
    cum = _priority_price_cum(o)
    cw, n = F.col("cw"), F.col("n")
    bounds = cum.groupBy("o_orderpriority").agg(
        F.min(F.when(20 * cw >= n, F.col("price_c"))).alias("lo"),
        F.min(F.when(20 * cw >= 19 * n, F.col("price_c"))).alias("hi"),
    )
    j = o.join(F.broadcast(bounds), "o_orderpriority")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.min("lo").alias("p05_c"),
            F.min("hi").alias("p95_c"),
            F.sum(
                F.least(F.greatest(F.col("price_c"), F.col("lo")), F.col("hi"))
            ).alias("_s"),
        )
        .select(
            "o_orderpriority", "n", "p05_c", "p95_c",
            F.expr("_s div n").alias("wmean_c"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/synthetic-data screen)
# ---------------------------------------------------------------------------

# Benford expected first-digit probabilities log10(1+1/d), in ppm — shared
# literal table so both engines compare against identical constants
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
                45757]


@register(
    "benford_first_digit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    e AS (
      SELECT unnest(range(1, 10)) AS digit,
             unnest({_BENFORD_PPM}) AS exp_ppm
    )
    SELECT e.digit,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n,
           CAST(coalesce(c.n, 0) * 1000000 // t.total AS BIGINT)
             AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(abs(coalesce(c.n, 0) * 1000000 // t.total - e.exp_ppm)
                AS BIGINT) AS dev_ppm
    FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
    ORDER BY e.digit
    """,
    doc="Benford's-law first-digit audit over order totals: observed "
        "first-digit frequencies (integer ppm) against the log10(1+1/d) "
        "expectation, shared as literal ppm constants so both engines "
        "compare against identical numbers — the standard "
        "fraud/synthetic-data screen for money columns. First digit via "
        "string head of the integer cents (pure codegen, no log/pow). "
        "Scale: one map-side-combinable 9-group aggregate; the "
        "expectation table is a 9-row literal",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        cents_nonneg(F.col("o_totalprice")).cast("string"),
        1, 1,
    ).cast("long")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    t = c.agg(F.sum("n").cast("long").alias("total"))
    e = _t(spark, sf_dir, "orders").sparkSession.createDataFrame(
        [(i + 1, p) for i, p in enumerate(_BENFORD_PPM)],
        "digit long, exp_ppm long",
    )
    j = (
        e.join(c, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.expr(
                "coalesce(n, 0) * 1000000 div total"
            ).alias("obs_ppm"),
            "exp_ppm",
            F.abs(
                F.expr("coalesce(n, 0) * 1000000 div total")
                - F.col("exp_ppm")
            ).alias("dev_ppm"),
        )
    )
    return j.orderBy("digit")


# ---------------------------------------------------------------------------
# Sweep-line max concurrency (interval overlap counting)
# ---------------------------------------------------------------------------

@register(
    "max_concurrency_daily",
    oracle="""
    WITH s AS (  -- 30-min-gap sessions per user (sessionize semantics)
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM events
    ), sid_t AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), iv AS (
      SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us
      FROM sid_t GROUP BY user_id, sid
    ), pts AS (
      SELECT CAST(start_us // 86400000000 AS BIGINT) AS day, start_us AS us,
             1 AS delta, 0 AS tie FROM iv
      UNION ALL
      SELECT CAST(start_us // 86400000000 AS BIGINT), end_us + 1, -1, 1
      FROM iv
    ), sweep AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY us, tie
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT day, CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM sweep GROUP BY day ORDER BY day
    """,
    doc="Sweep-line interval concurrency: 30-min-gap sessions become "
        "[start, end] intervals, each emits +1/-1 boundary points, and a "
        "partitioned running sum over the ordered point stream yields the "
        "maximum number of simultaneously active sessions per day — the "
        "capacity-planning metric windowed aggregates cannot express "
        "(overlap is not containment in any fixed bucket). Ends sort "
        "after coincident starts (end_us+1, tie key), counting a session "
        "live through its last event microsecond. Partitioning the sweep "
        "by UTC day keeps it parallel; sessions never span days in this "
        "data (asserted in the test), and at scale the same plan runs "
        "with a per-day carry-in correction term. All integer "
        "microseconds. Scale: two user_id-partitioned windows share one "
        "shuffle; the sweep shuffles 2 rows per session",
)
def q_max_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = ev.select(
        "user_id", us.alias("us"), "event_id"
    ).withColumn(
        "brk",
        F.when(
            F.col("us") - F.lag("us").over(wo) > 1800000000, 1
        ).otherwise(0),
    )
    sess = s.withColumn(
        "sid",
        F.sum("brk").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("us").alias("start_us"), F.max("us").alias("end_us")
    )
    starts = iv.select(
        F.expr("start_us div 86400000000").alias("day"),
        F.col("start_us").alias("us"),
        F.lit(1).alias("delta"),
        F.lit(0).alias("tie"),
    )
    ends = iv.select(
        F.expr("start_us div 86400000000").alias("day"),
        (F.col("end_us") + 1).alias("us"),
        F.lit(-1).alias("delta"),
        F.lit(1).alias("tie"),
    )
    pts = starts.unionByName(ends)
    sweep = pts.select(
        "day",
        F.sum("delta").over(
            Window.partitionBy("day")
            .orderBy("us", "tie")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("live"),
    )
    return (
        sweep.groupBy("day")
        .agg(F.max("live").cast("long").alias("max_concurrent"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Exact 1-D Wasserstein (EMD) drift matrix between source distributions
# ---------------------------------------------------------------------------

def _source_pair_cdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cumulative document-length counts of every source pair
    (sa < sb) over their pooled distinct lengths: (sa, sb, na, nb, v,
    fa, fb) with na/nb the pair's document counts and fa/fb each
    source's documents of length <= v."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy(
        "source", F.col("n_chars").cast("long").alias("v")
    ).agg(F.count("*").alias("cnt"))
    tot = c.groupBy("source").agg(F.sum("cnt").alias("n"))
    a, b = tot.alias("a"), tot.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"), F.col("b.source").alias("sb"),
        F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
    )
    tagged = (
        F.broadcast(pairs)
        .join(
            c,
            (F.col("source") == F.col("sa"))
            | (F.col("source") == F.col("sb")),
        )
        .groupBy("sa", "sb", "na", "nb", "v")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("sa"), F.col("cnt"))
                .otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("source") == F.col("sb"), F.col("cnt"))
                .otherwise(0)
            ).alias("cb"),
        )
    )
    wc = (
        Window.partitionBy("sa", "sb").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tagged.select(
        "sa", "sb", "na", "nb", "v",
        F.sum("ca").over(wc).alias("fa"),
        F.sum("cb").over(wc).alias("fb"),
    )


@register(
    "emd_drift_matrix",
    oracle="""
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, v
    ), tot AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY source
    ), pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
      FROM tot a JOIN tot b ON a.source < b.source
    ), tagged AS (
      SELECT p.sa, p.sb, p.na, p.nb, c.v,
             SUM(CASE WHEN c.source = p.sa THEN c.cnt ELSE 0 END) AS ca,
             SUM(CASE WHEN c.source = p.sb THEN c.cnt ELSE 0 END) AS cb
      FROM pairs p JOIN c ON c.source IN (p.sa, p.sb)
      GROUP BY p.sa, p.sb, p.na, p.nb, c.v
    ), cum AS (
      SELECT sa, sb, na, nb, v,
             SUM(ca) OVER w AS fa, SUM(cb) OVER w AS fb,
             lead(v) OVER (PARTITION BY sa, sb ORDER BY v) AS nv
      FROM tagged
      WINDOW w AS (PARTITION BY sa, sb ORDER BY v
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT sa, sb, CAST(MIN(na) AS BIGINT) AS n_a,
           CAST(MIN(nb) AS BIGINT) AS n_b,
           CAST(SUM(abs(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na)
                    * (nv - v)) * 1000
                // (CAST(MIN(na) AS HUGEINT) * MIN(nb)) AS BIGINT)
             AS emd_milli
    FROM cum WHERE nv IS NOT NULL
    GROUP BY sa, sb
    ORDER BY sa, sb
    """,
    doc="Exact 1-D Wasserstein distance (earth mover's) between every pair "
        "of sources' document-length distributions: EMD_1 = integral of "
        "|F_a - F_b|, computed as the sum over distinct-value gaps of "
        "|cumA*Nb - cumB*Na| * gap — the cross-multiplied form keeps "
        "everything integer (HUGEINT/decimal128), so the drift matrix is "
        "engine-exact where a float CDF integral is not. THE distribution- "
        "shift metric for corpus mixing and train/serve skew audits "
        "(KS distance = max instead of sum over the same cum table). "
        "Scale: counts collapse to (source, distinct value) rows; every "
        "window partitions by source pair — |sources|^2/2 independent "
        "sweeps over value-distinct rows, no global sort",
)
def q_emd_drift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = _source_pair_cdfs(spark, sf_dir).withColumn(
        "nv", F.lead("v").over(Window.partitionBy("sa", "sb").orderBy("v"))
    )
    return (
        cum.filter(F.col("nv").isNotNull())
        .groupBy("sa", "sb")
        .agg(
            F.min("na").alias("n_a"),
            F.min("nb").alias("n_b"),
            F.expr(
                "CAST(SUM(ABS(CAST(fa AS DECIMAL(38,0)) * nb"
                " - CAST(fb AS DECIMAL(38,0)) * na) * (nv - v)) * 1000"
                " div (CAST(MIN(na) AS DECIMAL(38,0)) * MIN(nb))"
                " AS BIGINT)"
            ).alias("emd_milli"),
        )
        .orderBy("sa", "sb")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (algebraic state merge, no rescan)
# ---------------------------------------------------------------------------

_AGG_SPLIT = "TIMESTAMP '1997-01-01'"


@register(
    "incremental_agg_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_c,
             CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS min_c,
             CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS max_c
      FROM orders WHERE o_orderdate < {_AGG_SPLIT}
      GROUP BY o_orderpriority
    ), delta AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_c,
             CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS min_c,
             CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS max_c
      FROM orders WHERE o_orderdate >= {_AGG_SPLIT}
      GROUP BY o_orderpriority
    )
    SELECT coalesce(b.o_orderpriority, d.o_orderpriority)
             AS o_orderpriority,
           CAST(coalesce(b.n, 0) + coalesce(d.n, 0) AS BIGINT) AS n,
           CAST(coalesce(b.sum_c, 0) + coalesce(d.sum_c, 0) AS BIGINT)
             AS sum_c,
           CAST(least(coalesce(b.min_c, 9223372036854775807),
                      coalesce(d.min_c, 9223372036854775807)) AS BIGINT)
             AS min_c,
           CAST(greatest(coalesce(b.max_c, -9223372036854775808),
                         coalesce(d.max_c, -9223372036854775808))
                AS BIGINT) AS max_c
    FROM base b FULL OUTER JOIN delta d USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
    doc="Incremental aggregate maintenance: count/sum/min/max are "
        "ALGEBRAIC — a materialized per-group state merges with a delta "
        "batch's state through (+, +, least, greatest) without rescanning "
        "the base (the engine form of materialized-view maintenance; the "
        "same merge the CDC apply would run per micro-batch). The oracle "
        "replays the split-merge; correctness means merged state == "
        "direct full-scan aggregate, which the test pins explicitly. "
        "Scale: the base state is |groups| rows read back from its "
        "snapshot; only the delta partition is scanned — the 100 TB win "
        "is scanning one day, not the whole history",
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = cents_nonneg(F.col("o_totalprice"))

    def state(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sum_c"),
            F.min(cents).alias("min_c"),
            F.max(cents).alias("max_c"),
        )

    split = F.lit("1997-01-01").cast("timestamp")
    base = state(o.filter(F.col("o_orderdate") < split)).alias("b")
    delta = state(o.filter(F.col("o_orderdate") >= split)).alias("d")
    merged = base.join(delta, ["o_orderpriority"], "full_outer").select(
        "o_orderpriority",
        (
            F.coalesce(F.col("b.n"), F.lit(0))
            + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("b.sum_c"), F.lit(0))
            + F.coalesce(F.col("d.sum_c"), F.lit(0))
        ).alias("sum_c"),
        F.least(
            F.coalesce(F.col("b.min_c"), F.lit(9223372036854775807)),
            F.coalesce(F.col("d.min_c"), F.lit(9223372036854775807)),
        ).alias("min_c"),
        F.greatest(
            F.coalesce(F.col("b.max_c"), F.lit(-9223372036854775808)),
            F.coalesce(F.col("d.max_c"), F.lit(-9223372036854775808)),
        ).alias("max_c"),
    )
    return merged.orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# OLS trend per group from exact integer moments
# ---------------------------------------------------------------------------

@register(
    "ols_trend_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                  AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(day) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(day * y) AS HUGEINT) AS sxy,
             CAST(SUM(day * day) AS HUGEINT) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
    FROM m ORDER BY event_type
    """,
    doc="Per-group OLS trend (events/day regressed on day index) from "
        "exact integer moment sums: slope = (n*Sxy - Sx*Sy) / "
        "(n*Sxx - Sx^2), emitted as floor-ppm — the drift/trend detector "
        "behind volume alerts, deterministic where float REGR_SLOPE's "
        "accumulation order is not (decimal128/HUGEINT products; day "
        "index keeps Sxx small). Scale: daily pre-aggregation then one "
        "tiny moment aggregate per group — same single-shuffle shape as "
        "stats_corr_exact",
)
def q_ols_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts_nanos div 1000) div 86400000000").alias("day"),
    ).agg(F.count("*").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("day").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("day") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("day") * F.col("day")).cast("decimal(38,0)").alias("sxx"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (nonparametric group comparison)
# ---------------------------------------------------------------------------

@register(
    "mann_whitney_u",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN source = 'src1' THEN 0 ELSE 1 END AS grp,
             CAST(n_chars AS BIGINT) AS x
      FROM documents WHERE source IN ('src1', 'src2')
    ), r AS (  -- midranks doubled to stay integer under ties
      SELECT grp, x,
             CAST(RANK() OVER (ORDER BY x) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY x) AS BIGINT) - 1
               AS r2
      FROM v
    ), s AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN r2 ELSE 0 END) AS BIGINT)
               AS r2a,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM r
    )
    SELECT na, nb,
           CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
           CAST(2 * na * nb - (r2a - na * (na + 1)) AS BIGINT) AS u2_b,
           CAST((r2a - na * (na + 1)) * 1000000 // (2 * na * nb)
                AS BIGINT) AS auc_ppm
    FROM s
    """,
    doc="Mann-Whitney U rank-sum test comparing document lengths between "
        "two sources (src1 vs src2), exactly: midranks are doubled "
        "(2*rank + ties - 1) so tied ranks stay integer, U = R_a - "
        "n_a(n_a+1)/2 follows in the doubled domain, and U/(n_a*n_b) — "
        "the probability a random src1 doc is longer than a random src2 doc "
        "(AUC) — lands as floor-ppm. The nonparametric A/B test for "
        "skewed metrics where the t-test's normality assumption fails. "
        "Scale: the ordered pass runs over the value-DISTINCT count "
        "table (midranks reconstructed from cumulative ties), not raw "
        "rows — the same shrink weighted_median uses; everything after "
        "is one scalar aggregate",
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src1", "src2")
    )
    # rank math on the value-DISTINCT count table, not raw rows: the
    # doubled midrank of every element at value v is 2*cum_before + t + 1
    # (t = ties at v), so R2_a = sum over v of ca_v * that — the global
    # ordered pass shrinks from |rows| to |distinct values| (same shape
    # as the EMD/KS cum tables; the oracle ranks raw rows, equivalently)
    v = docs.select(
        F.when(F.col("source") == "src1", 0).otherwise(1).alias("grp"),
        F.col("n_chars").cast("long").alias("x"),
    )
    cc = v.groupBy("x").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("cb"),
    )
    wc = bounded_window("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cc.select(
        "ca", "cb",
        (
            F.sum(F.col("ca") + F.col("cb")).over(wc)
            - (F.col("ca") + F.col("cb"))
        ).alias("before"),
        (F.col("ca") + F.col("cb")).alias("t"),
    )
    s = cum.agg(
        F.sum(
            F.col("ca") * (2 * F.col("before") + F.col("t") + 1)
        ).alias("r2a"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    return s.select(
        "na", "nb",
        F.expr("r2a - na * (na + 1)").alias("u2_a"),
        F.expr("2 * na * nb - (r2a - na * (na + 1))").alias("u2_b"),
        F.expr(
            "(r2a - na * (na + 1)) * 1000000 div (2 * na * nb)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility profile (chars per token by language)
# ---------------------------------------------------------------------------

@register(
    "token_fertility_by_lang",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(length(text) AS BIGINT) AS n_chr
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chr) * 1000 // SUM(n_tok) AS BIGINT)
             AS chars_per_token_ppk,
           CAST(SUM(n_tok) * 1000 // SUM(n_chr) AS BIGINT)
             AS tokens_per_kchar
    FROM t GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility profile per language: characters per "
        "whitespace token (permille) and its inverse — the "
        "capacity-planning ratio for context budgets and the standard "
        "screen for languages a tokenizer fragments (fertility spikes). "
        "Exact integer ratios of corpus-level sums. Scale: one "
        "map-side-combinable aggregate over scan-side length expressions; "
        "swap the splitter for the BPE-ish regex tokenizer "
        "(functions/text.py) for subword fertility at the same plan shape",
)
def q_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chr"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chr").alias("_chr"),
        )
        .select(
            "lang", "n_docs", "total_tokens",
            F.expr("_chr * 1000 div total_tokens").alias(
                "chars_per_token_ppk"
            ),
            F.expr("total_tokens * 1000 div _chr").alias("tokens_per_kchar"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov drift matrix (max CDF gap, integer-exact)
# ---------------------------------------------------------------------------

@register(
    "ks_drift_matrix",
    oracle="""
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, v
    ), tot AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY source
    ), pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
      FROM tot a JOIN tot b ON a.source < b.source
    ), tagged AS (
      SELECT p.sa, p.sb, p.na, p.nb, c.v,
             SUM(CASE WHEN c.source = p.sa THEN c.cnt ELSE 0 END) AS ca,
             SUM(CASE WHEN c.source = p.sb THEN c.cnt ELSE 0 END) AS cb
      FROM pairs p JOIN c ON c.source IN (p.sa, p.sb)
      GROUP BY p.sa, p.sb, p.na, p.nb, c.v
    ), cum AS (
      SELECT sa, sb, na, nb,
             SUM(ca) OVER w AS fa, SUM(cb) OVER w AS fb
      FROM tagged
      WINDOW w AS (PARTITION BY sa, sb ORDER BY v
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT sa, sb,
           CAST(MAX(abs(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na))
                * 1000000 // (CAST(MIN(na) AS HUGEINT) * MIN(nb))
                AS BIGINT) AS ks_ppm
    FROM cum GROUP BY sa, sb
    ORDER BY sa, sb
    """,
    doc="Kolmogorov-Smirnov statistic between every source pair's "
        "document-length distributions: D = max |F_a - F_b| over the "
        "pooled distinct values, cross-multiplied (|fa*nb - fb*na|) so "
        "the max runs over exact integers and only the final ppm "
        "normalization divides — the hypothesis-test companion to "
        "emd_drift_matrix (same cum table, MAX instead of gap-weighted "
        "SUM). Scale: identical shape — counts collapse per (source, "
        "value), pair-partitioned cumulative windows, no global sort",
)
def q_ks_drift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = _source_pair_cdfs(spark, sf_dir)
    return (
        cum.groupBy("sa", "sb")
        .agg(
            F.expr(
                "CAST(MAX(ABS(CAST(fa AS DECIMAL(38,0)) * nb"
                " - CAST(fb AS DECIMAL(38,0)) * na)) * 1000000"
                " div (CAST(MIN(na) AS DECIMAL(38,0)) * MIN(nb))"
                " AS BIGINT)"
            ).alias("ks_ppm"),
        )
        .orderBy("sa", "sb")
    )


# ---------------------------------------------------------------------------
# Bloom filter as a replayable aggregation (membership pre-filter)
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3     # hash functions


def _bloom_oracle() -> str:
    def bitpos(d: int, key: str) -> str:
        h = portable_hash60_sql(f"'{d}' || '|' || CAST({key} AS VARCHAR)")
        return f"({h} % {_BLOOM_M})"

    bits_rows = " UNION ALL ".join(
        f"SELECT {bitpos(d, 'o_custkey')} AS bit FROM orders"
        for d in range(_BLOOM_K)
    )
    probe_checks = " AND ".join(
        f"{bitpos(d, 'c_custkey')} IN (SELECT bit FROM bits)"
        for d in range(_BLOOM_K)
    )
    return f"""
    WITH bits AS (SELECT DISTINCT bit FROM ({bits_rows})),
    probe AS (
      SELECT c_custkey,
             CASE WHEN {probe_checks} THEN 1 ELSE 0 END AS maybe,
             CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
                  THEN 1 ELSE 0 END AS actual
      FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(maybe) AS BIGINT) AS n_maybe,
           CAST(SUM(actual) AS BIGINT) AS n_actual,
           CAST(SUM(CASE WHEN maybe = 1 AND actual = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           CAST(SUM(CASE WHEN maybe = 0 AND actual = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negative
    FROM probe
    """


@register(
    "bloom_membership_check",
    oracle=_bloom_oracle(),
    doc="Bloom filter built as a replayable aggregation: the customers "
        "with orders set their k=3 portable-hash bit positions in an "
        "m=4096-bit filter (the DISTINCT bit set IS the filter — "
        "mergeable by union, like the CMS grid); every customer then "
        "probes it. Reports maybe/actual/false-positive counts, and the "
        "zero-false-negative guarantee lands as an exact column the "
        "oracle hash-checks. The semi-join pre-filter primitive: at "
        "100 TB the 512-byte filter broadcasts where the key set cannot "
        "(Spark's own runtime bloom pruning is the planner-injected twin "
        "— pinned separately in test_plans). Scale: one "
        "map-side-combinable distinct over a fixed 4096-cell key space; "
        "probes broadcast-join the bit set",
)
def q_bloom_membership_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def bits(key_col, d: int):
        return portable_hash60(
            F.concat_ws("|", F.lit(str(d)), key_col.cast("string"))
        ) % _BLOOM_M

    bit_rows = None
    for d in range(_BLOOM_K):
        r = orders.select(bits(F.col("o_custkey"), d).alias("bit"))
        bit_rows = r if bit_rows is None else bit_rows.unionByName(r)
    bset = bit_rows.distinct()

    probe = cust.select("c_custkey")
    for d in range(_BLOOM_K):
        hit = bset.withColumnRenamed("bit", f"b{d}")
        probe = probe.join(
            F.broadcast(hit),
            bits(F.col("c_custkey"), d) == F.col(f"b{d}"),
            "left",
        )
    maybe = F.when(
        sum(F.col(f"b{d}").isNotNull().cast("int") for d in range(_BLOOM_K))
        == _BLOOM_K,
        1,
    ).otherwise(0)
    actual_keys = orders.select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    tagged = probe.select("c_custkey", maybe.alias("maybe")).join(
        actual_keys.withColumn("actual", F.lit(1)), "c_custkey", "left"
    ).select(
        "maybe", F.coalesce(F.col("actual"), F.lit(0)).alias("actual")
    )
    return tagged.agg(
        F.count("*").alias("n_probes"),
        F.sum("maybe").cast("long").alias("n_maybe"),
        F.sum("actual").cast("long").alias("n_actual"),
        F.sum(
            F.when((F.col("maybe") == 1) & (F.col("actual") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_false_positive"),
        F.sum(
            F.when((F.col("maybe") == 0) & (F.col("actual") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_false_negative"),
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes: train on the corpus, predict, confusion matrix
# ---------------------------------------------------------------------------

@register(
    "naive_bayes_confusion",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), ct AS (  -- token counts per class
      SELECT lang AS clang, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY clang, tok
    ), cl AS (
      SELECT clang, CAST(SUM(c) AS BIGINT) AS t FROM ct GROUP BY clang
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tok
    ), pri AS (
      SELECT lang AS clang, CAST(COUNT(*) AS BIGINT) AS nd
      FROM documents GROUP BY clang
    ), ndoc AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
    classes AS (
      SELECT cl.clang, cl.t, vocab.v,
             CAST(floor(1000000.0
                        * ln(CAST(ndoc.total AS DOUBLE)
                             / CAST(pri.nd AS DOUBLE))) AS BIGINT)
               AS prior_surp_e6
      FROM cl JOIN pri USING (clang) CROSS JOIN vocab CROSS JOIN ndoc
    ), scored AS (
      SELECT s.doc_id, s.lang, k.clang,
             MIN(k.prior_surp_e6)
             + SUM(CAST(floor(1000000.0
                              * ln(CAST(k.t + k.v AS DOUBLE)
                                   / CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)))
                        AS BIGINT)) AS surp_e6
      FROM tok s CROSS JOIN classes k
      LEFT JOIN ct ON ct.clang = k.clang AND ct.tok = s.tok
      GROUP BY s.doc_id, s.lang, k.clang
    ), pred AS (
      SELECT doc_id, lang, clang AS predicted,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY surp_e6, clang) AS rn
      FROM scored
    )
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
    doc="Multinomial Naive Bayes language classifier trained AND applied "
        "in one dataflow: add-1-smoothed per-class token surprisals "
        "(floored micro-nats, same ln-on-identical-doubles discipline as "
        "unigram_surprisal) plus prior surprisal, argmin class per "
        "document (ties by class name), reported as the lang x predicted "
        "confusion matrix — train/inference/eval of a real classifier as "
        "pure relational algebra. Scale: the model (class-token counts) "
        "is vocabulary-sized and broadcast-joinable; the scoring pass "
        "expands the token stream by |classes| (a scan-side constant "
        "factor), and the per-doc aggregate + WindowGroupLimit-shaped "
        "argmin shuffle on doc_id is the only data-sized exchange",
)
def q_naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    ct = tok.groupBy(
        F.col("lang").alias("clang"), "tok"
    ).agg(F.count("*").alias("c"))
    cl = ct.groupBy("clang").agg(F.sum("c").alias("t"))
    vocab = tok.agg(F.countDistinct("tok").alias("v"))
    pri = docs.groupBy(F.col("lang").alias("clang")).agg(
        F.count("*").alias("nd")
    )
    ndoc = docs.agg(F.count("*").alias("total"))
    classes = (
        cl.join(pri, "clang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ndoc))
        .select(
            "clang", "t", "v",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    F.col("total").cast("double") / F.col("nd").cast("double")
                )
            ).cast("long").alias("prior_surp_e6"),
        )
    )
    scored = (
        tok.crossJoin(F.broadcast(classes))
        .join(F.broadcast(ct), ["clang", "tok"], "left")
        .groupBy("doc_id", "lang", "clang")
        .agg(
            (
                F.min("prior_surp_e6")
                + F.sum(
                    F.floor(
                        F.lit(1000000.0)
                        * F.log(
                            (F.col("t") + F.col("v")).cast("double")
                            / (F.coalesce(F.col("c"), F.lit(0)) + 1)
                            .cast("double")
                        )
                    ).cast("long")
                )
            ).alias("surp_e6")
        )
    )
    pred = scored.select(
        "doc_id", "lang", F.col("clang").alias("predicted"),
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("surp_e6", "clang")
        ).alias("rn"),
    ).filter(F.col("rn") == 1)
    return (
        pred.groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Join-skew profiler (key-distribution report for shuffle planning)
# ---------------------------------------------------------------------------

@register(
    "join_skew_profile",
    oracle="""
    WITH k AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_suppkey
    ), cum AS (
      SELECT c,
             SUM(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER () AS nk
      FROM (SELECT c, COUNT(*) AS cnt FROM k GROUP BY c)
    )
    SELECT CAST(MIN(nk) AS BIGINT) AS n_keys,
           CAST((SELECT SUM(c) FROM k) AS BIGINT) AS n_rows,
           CAST((SELECT MAX(c) FROM k) AS BIGINT) AS max_rows_per_key,
           CAST(MIN(CASE WHEN 2 * cw >= nk THEN c END) AS BIGINT)
             AS p50_rows_per_key,
           CAST(MIN(CASE WHEN 100 * cw >= 99 * nk THEN c END) AS BIGINT)
             AS p99_rows_per_key,
           CAST((SELECT MAX(c) FROM k) * MIN(nk) * 1000
                // (SELECT SUM(c) FROM k) AS BIGINT) AS skew_ratio_ppk
    FROM cum
    """,
    doc="Join-skew profile of a shuffle key (l_suppkey): key count, exact "
        "p50/p99/max rows-per-key (percentile_disc crossing test over the "
        "count-of-counts table), and max/mean skew ratio in permille — "
        "the report that decides between plain shuffle, AQE skew split, "
        "and salting (operators/relational.salted_join) BEFORE running "
        "the join. Scale: one groupBy to counts, a second tiny groupBy "
        "to count-of-counts (distinct count values, typically a few "
        "hundred rows regardless of input size), windows over that",
)
def q_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    k = li.groupBy("l_suppkey").agg(F.count("*").alias("c"))
    cc = k.groupBy("c").agg(F.count("*").alias("cnt"))
    wc = bounded_window("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cc.select(
        "c",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(
            bounded_window()
        ).alias("nk"),
    )
    tot = k.agg(
        F.sum("c").alias("n_rows"), F.max("c").alias("max_c")
    )
    cw, nk = F.col("cw"), F.col("nk")
    q = cum.agg(
        F.min("nk").alias("n_keys"),
        F.min(F.when(2 * cw >= nk, F.col("c"))).alias("p50_rows_per_key"),
        F.min(F.when(100 * cw >= 99 * nk, F.col("c"))).alias(
            "p99_rows_per_key"
        ),
    )
    return q.crossJoin(F.broadcast(tot)).select(
        "n_keys",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_c").cast("long").alias("max_rows_per_key"),
        "p50_rows_per_key",
        "p99_rows_per_key",
        F.expr("max_c * n_keys * 1000 div n_rows").alias("skew_ratio_ppk"),
    )


# ---------------------------------------------------------------------------
# Conversion latency quartiles (first view -> first purchase, exact)
# ---------------------------------------------------------------------------

@register(
    "conversion_latency_quartiles",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), fp AS (
      SELECT user_id, MIN(epoch_us(ts)) AS p_us FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), lat AS (
      SELECT (fp.p_us - fv.v_us) // 1000000 AS lat_s
      FROM fv JOIN fp USING (user_id) WHERE fp.p_us >= fv.v_us
    ), agg AS (
      SELECT lat_s, COUNT(*) AS cnt FROM lat GROUP BY lat_s
    ), cum AS (
      SELECT lat_s,
             SUM(cnt) OVER (ORDER BY lat_s ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER () AS n
      FROM agg
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN 4 * cw >= n     THEN lat_s END) AS BIGINT)
             AS q25_s,
           CAST(MIN(CASE WHEN 2 * cw >= n     THEN lat_s END) AS BIGINT)
             AS q50_s,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * n THEN lat_s END) AS BIGINT)
             AS q75_s
    FROM cum
    """,
    doc="Conversion latency quartiles: seconds from each user's first view "
        "to their first purchase (converted users only), with exact "
        "percentile_disc quartiles over the latency distribution — the "
        "product-funnel timing metric. Two filtered min-aggregates share "
        "one user_id shuffle; quartiles run on the value-distinct latency "
        "table (integer seconds). Scale: same single-shuffle + tiny-"
        "window shape as equi_depth_boundaries",
)
def q_conversion_latency_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min(us).alias("v_us")
    )
    fp = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min(us).alias("p_us"))
    lat = (
        fv.join(fp, "user_id")
        .filter(F.col("p_us") >= F.col("v_us"))
        .select(F.expr("(p_us - v_us) div 1000000").alias("lat_s"))
    )
    # bucketed two-level cumsum: latency seconds can span a wide range
    agg = lat.groupBy("lat_s").agg(F.count("*").alias("cnt")).withColumn(
        "bkt", F.expr("lat_s div 1000")
    )
    bstat = agg.groupBy("bkt").agg(F.sum("cnt").alias("bc"))
    wb = bounded_window("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bcum = bstat.select(
        "bkt",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("before"),
        F.sum("bc").over(bounded_window()).alias("n"),
    )
    wi = Window.partitionBy("bkt").orderBy("lat_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.join(F.broadcast(bcum), "bkt").select(
        "lat_s",
        (F.col("before") + F.sum("cnt").over(wi)).alias("cw"),
        "n",
    )
    cw, n = F.col("cw"), F.col("n")
    return cum.agg(
        F.min("n").cast("long").alias("n_converted"),
        F.min(F.when(4 * cw >= n, F.col("lat_s"))).alias("q25_s"),
        F.min(F.when(2 * cw >= n, F.col("lat_s"))).alias("q50_s"),
        F.min(F.when(4 * cw >= 3 * n, F.col("lat_s"))).alias("q75_s"),
    )


# ---------------------------------------------------------------------------
# Positional phrase search (inverted index with positions)
# ---------------------------------------------------------------------------

_PHRASE = ("fast", "table")


@register(
    "phrase_search_positional",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), a AS (
      SELECT doc_id, pos FROM tok WHERE tok = '{_PHRASE[0]}'
    ), b AS (
      SELECT doc_id, pos FROM tok WHERE tok = '{_PHRASE[1]}'
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """,
    doc=f"Positional phrase search ('{_PHRASE[0]} {_PHRASE[1]}'): the "
        "inverted index carries token positions and a phrase match is an "
        "equi-join of adjacent postings (pos_b = pos_a + 1) — the "
        "full-text primitive behind quoted queries, built on the same "
        "postings shape as keyword_and_search. Returns occurrence counts "
        "and first hit position per document. Scale: term postings are "
        "filtered scan-side (two selective scans of the token stream), "
        "the adjacency join keys on (doc, pos) — co-partitioned by "
        "doc_id, and rare-term postings broadcast under AQE",
)
def q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = tok.filter(F.col("tok") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = tok.filter(F.col("tok") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pb")
    )
    j = a.join(
        b,
        (a.doc_id == b.doc_id) & (F.col("pb") == F.col("pa") + 1),
    ).select(a.doc_id.alias("doc_id"), "pa")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("pa").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Median absolute deviation (two-stage exact robust scale)
# ---------------------------------------------------------------------------

@register(
    "mad_robust_scale",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem
    ), agg1 AS (
      SELECT l_returnflag, x, COUNT(*) AS cnt FROM c GROUP BY l_returnflag, x
    ), cum1 AS (
      SELECT l_returnflag, x,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM agg1
    ), med AS (
      SELECT l_returnflag,
             CAST(MIN(CASE WHEN 2 * cw >= n THEN x END) AS BIGINT) AS med_c
      FROM cum1 GROUP BY l_returnflag
    ), dev AS (
      SELECT c.l_returnflag, abs(c.x - m.med_c) AS d
      FROM c JOIN med m USING (l_returnflag)
    ), agg2 AS (
      SELECT l_returnflag, d, COUNT(*) AS cnt FROM dev GROUP BY l_returnflag, d
    ), cum2 AS (
      SELECT l_returnflag, d,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM agg2
    )
    SELECT m.l_returnflag, m.med_c,
           CAST(MIN(CASE WHEN 2 * c2.cw >= c2.n THEN c2.d END) AS BIGINT)
             AS mad_c
    FROM cum2 c2 JOIN med m USING (l_returnflag)
    GROUP BY m.l_returnflag, m.med_c
    ORDER BY m.l_returnflag
    """,
    doc="Median absolute deviation per group — the robust scale estimator "
        "(stddev breaks down at 1 outlier; MAD at 50%) — as two exact "
        "percentile_disc passes: median of x, then median of |x - med|, "
        "each over a value-distinct pre-aggregate so the windows never "
        "see raw rows. Integer cents throughout. Scale: two shuffles of "
        "(group, distinct value) tables plus one broadcast join of the "
        "|groups|-row median table into the scan",
)
def q_mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents_nonneg(F.col("l_extendedprice")).alias("x"),
    )

    def disc_median(df, val, out):
        # two-level cumulative decomposition: global_cum(v) =
        # cum(full buckets before v's bucket) + cum(within bucket up to v).
        # The bucket pass is tiny; the in-bucket pass parallelizes by
        # (group, bucket) — no window ever runs with |groups| partitions,
        # which is what made the naive per-group cumsum a 3-way-parallel
        # bottleneck on a 600k-distinct-value column.
        agg = df.groupBy("l_returnflag", val).agg(F.count("*").alias("cnt"))
        agg = agg.withColumn("bkt", F.expr(f"{val} div 1000"))
        bstat = agg.groupBy("l_returnflag", "bkt").agg(
            F.sum("cnt").alias("bc")
        )
        wb = (
            Window.partitionBy("l_returnflag").orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        bcum = bstat.select(
            "l_returnflag", "bkt",
            (F.sum("bc").over(wb) - F.col("bc")).alias("before"),
            F.sum("bc").over(
                Window.partitionBy("l_returnflag")
            ).alias("n"),
        )
        wi = (
            Window.partitionBy("l_returnflag", "bkt").orderBy(val)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = agg.join(F.broadcast(bcum), ["l_returnflag", "bkt"]).select(
            "l_returnflag", val,
            (F.col("before") + F.sum("cnt").over(wi)).alias("cw"),
            "n",
        )
        return cum.groupBy("l_returnflag").agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("n"), F.col(val))
            ).alias(out)
        )

    med = disc_median(li, "x", "med_c")
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", F.abs(F.col("x") - F.col("med_c")).alias("d")
    )
    mad = disc_median(dev, "d", "mad_c")
    return (
        med.join(mad, "l_returnflag")
        .select("l_returnflag", "med_c", "mad_c")
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Lag-7 autocorrelation of daily volumes (seasonality strength)
# ---------------------------------------------------------------------------

@register(
    "acf_daily_lag7",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, d
    ), lagged AS (
      SELECT a.event_type, a.y AS x, b.y AS z
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d - 7
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(z) AS HUGEINT) AS sz,
             CAST(SUM(x * z) AS HUGEINT) AS sxz,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(z * z) AS HUGEINT) AS szz
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CAST(floor(CAST(n * sxz - sx * sz AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      / sqrt(CAST(n * szz - sz * sz AS DOUBLE))
                      * 1000000) AS BIGINT) AS acf7_ppm
    FROM m ORDER BY event_type
    """,
    doc="Lag-7 autocorrelation of daily event volumes per type — the "
        "seasonality-strength statistic (high acf7 validates the "
        "seasonal-naive baseline; low argues for SES) — Pearson over "
        "(day, day-7) pairs from exact integer moments, with the date "
        "equi-join handling calendar gaps a row-offset LAG would not. "
        "Only the final normalization runs identical IEEE double ops, "
        "floored to ppm. Scale: same daily pre-aggregate + tiny "
        "self-join + one moment aggregate shape as "
        "seasonal_naive_backtest",
)
def q_acf_daily_lag7(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    lagged = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.date_sub(F.col("a.d"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.y").alias("x"),
        F.col("b.y").alias("z"),
    )
    m = lagged.groupBy("event_type").agg(*pearson_moments())
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        pearson_ppm().alias("acf7_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Diversified top-k (global top-N with a per-group cap)
# ---------------------------------------------------------------------------

@register(
    "diversified_topk",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS per_cust
      FROM orders
    )
    SELECT o_custkey, o_orderkey, price_c
    FROM ranked WHERE per_cust <= 3
    ORDER BY price_c DESC, o_orderkey
    LIMIT 100
    """,
    doc="Diversified top-k: the global top-100 orders by value with at "
        "most 3 per customer — the search/feed-ranking primitive that "
        "prevents one heavy group from monopolizing a result page "
        "(diversity-constrained ranking). Two-stage plan: the per-group "
        "cap is a rank window with a LITERAL bound, so "
        "InferWindowGroupLimit keeps max 3 rows per customer on the map "
        "side BEFORE the shuffle; the global top-100 over survivors is "
        "TakeOrderedAndProject. No global sort anywhere. Scale: the "
        "window shuffle carries <= 3 rows per group; the final merge "
        "handles 100 rows per partition",
)
def q_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    ranked = o.select(
        "o_custkey", "o_orderkey",
        cents_nonneg(F.col("o_totalprice")).alias("price_c"),
        F.row_number().over(w).alias("per_cust"),
    ).filter(F.col("per_cust") <= 3)
    return (
        ranked.select("o_custkey", "o_orderkey", "price_c")
        .orderBy(F.desc("price_c"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Markov transition matrix (event-type chain estimation)
# ---------------------------------------------------------------------------

@register(
    "markov_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    ), c AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), t AS (
      SELECT cur, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY cur
    )
    SELECT c.cur, c.nxt, c.n,
           CAST(c.n * 1000000 // t.row_n AS BIGINT) AS p_ppm
    FROM c JOIN t USING (cur)
    ORDER BY cur, nxt
    """,
    doc="First-order Markov transition matrix over each user's event-type "
        "chain: P(next | current) as exact floor-ppm of transition counts "
        "— the behavioral-model estimate behind next-action prediction "
        "and anomalous-flow detection (event_path_trigrams' 2nd-order "
        "sibling). Scale: one user_id-partitioned lag window (single "
        "shuffle), then |types|^2-row aggregates",
)
def q_markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts_nanos div 1000"), "event_id"
    )
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    t = c.groupBy("cur").agg(F.sum("n").alias("row_n"))
    return (
        c.join(F.broadcast(t), "cur")
        .select(
            "cur", "nxt", "n",
            F.expr("n * 1000000 div row_n").alias("p_ppm"),
        )
        .orderBy("cur", "nxt")
    )


# ---------------------------------------------------------------------------
# CUSUM drift alarms (closed-form clamp via running sum minus running min)
# ---------------------------------------------------------------------------

@register(
    "cusum_drift_alarms",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, d
    ), m AS (
      SELECT event_type,
             CAST(SUM(y) // COUNT(*) AS BIGINT) AS mu
      FROM daily GROUP BY event_type
    ), dev AS (
      SELECT daily.event_type, d, y - m.mu AS e
      FROM daily JOIN m USING (event_type)
    ), cum1 AS (
      SELECT event_type, d,
             SUM(e) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS dt
      FROM dev
    ), cum AS (
      SELECT event_type, dt,
             least(MIN(dt) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS UNBOUNDED PRECEDING), 0) AS mind
      FROM cum1
    ), cusum AS (
      SELECT event_type, dt - mind AS s FROM cum
    )
    SELECT c.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(c.s) AS BIGINT) AS max_cusum,
           CAST(SUM(CASE WHEN c.s > m.mu THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_days
    FROM cusum c JOIN m USING (event_type)
    GROUP BY c.event_type
    ORDER BY c.event_type
    """,
    doc="One-sided CUSUM drift detector over daily volumes (target = the "
        "series' own integer-mean, alarm threshold h = target): "
        "CUSUM_t = max(0, CUSUM_{t-1} + (x_t - mu)) rewritten in closed "
        "form as D_t - min(0, min_{j<=t} D_j) over the plain cumulative "
        "deviation D — which turns the non-linear recurrence into two "
        "stacked windows (running sum, running min of the running sum), "
        "fully parallel by group and integer-exact. The volume-drift "
        "alarm for pipeline monitoring. Scale: daily pre-aggregate, then "
        "group-partitioned windows over one row per day",
)
def q_cusum_drift_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.expr("sum(y) div count(*)").alias("mu")
    )
    dev = daily.join(F.broadcast(m), "event_type").select(
        "event_type", "d", (F.col("y") - F.col("mu")).alias("e"), "mu"
    )
    wcum = (
        Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dev.select(
        "event_type", "mu", "d",
        F.sum("e").over(wcum).alias("dt"),
    ).withColumn(
        "mind", F.least(F.min("dt").over(wcum), F.lit(0).cast("long"))
    )
    cusum = cum.select(
        "event_type", "mu", (F.col("dt") - F.col("mind")).alias("s")
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.max("s").cast("long").alias("max_cusum"),
            F.sum(
                F.when(F.col("s") > F.col("mu"), 1).otherwise(0)
            ).cast("long").alias("n_alarm_days"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Time-series resample with LINEAR interpolation (integer lerp)
# ---------------------------------------------------------------------------

@register(
    "events_resample_linear",
    oracle="""
    WITH bounds AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
             date_trunc('hour', MAX(ts)) AS t1
      FROM events WHERE user_id < 40 GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bar
      FROM bounds
    ), hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bar,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM events WHERE user_id < 40
      GROUP BY user_id, date_trunc('hour', ts)
    ), g AS (
      SELECT g.user_id, epoch_us(g.bar) // 3600000000 AS h, hourly.v
      FROM grid g LEFT JOIN hourly
        ON hourly.user_id = g.user_id AND hourly.bar = g.bar
    ), ctx AS (
      SELECT user_id, h, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
               OVER wp AS ph,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
               OVER wf AS nh
      FROM g
      WINDOW wp AS (PARTITION BY user_id ORDER BY h
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(h * 3600000000 AS BIGINT) AS bar_us,
           CAST(coalesce(v, (pv * (nh - h) + nv * (h - ph)) // (nh - ph))
                AS BIGINT) AS value_c,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS interpolated
    FROM ctx
    """,
    doc="Time-series resample with LINEAR interpolation: missing hourly "
        "bars take the integer lerp (pv*(nh-h) + nv*(h-ph)) div (nh-ph) "
        "between the nearest known bars on each side (last_value/"
        "first_value IGNORE NULLS over opposite frames) — the "
        "interpolation companion to events_resample_ffill, exact because "
        "the lerp is integer cents over integer hour indexes. Grid "
        "endpoints are known bars by construction (min/max event hours), "
        "so every gap is interior. Scale: generated grid, one (user, "
        "bar) agg shuffle, two ordered window passes per user",
)
def q_events_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import hourly_grid

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    g = hourly_grid(ev).select(
        "user_id",
        F.expr("unix_micros(bar) div 3600000000").alias("h"),
        "v",
    )
    wp = (
        Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = g.select(
        "user_id", "h", "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(known_h, ignorenulls=True).over(wf).alias("nh"),
    )
    return ctx.select(
        "user_id",
        (F.col("h") * 3600000000).alias("bar_us"),
        F.coalesce(
            F.col("v"),
            F.expr("(pv * (nh - h) + nv * (h - ph)) div (nh - ph)"),
        ).alias("value_c"),
        F.when(F.col("v").isNull(), 1).otherwise(0).cast("long").alias(
            "interpolated"
        ),
    )


# ---------------------------------------------------------------------------
# Quantile mapping calibration (distribution alignment, exact inverse CDF)
# ---------------------------------------------------------------------------

@register(
    "quantile_mapping_calibration",
    oracle="""
    WITH ca AS (
      SELECT CAST(n_chars AS BIGINT) AS u, COUNT(*) AS c
      FROM documents WHERE source = 'src1' GROUP BY u
    ), cb AS (
      SELECT CAST(n_chars AS BIGINT) AS v, COUNT(*) AS c
      FROM documents WHERE source = 'src2' GROUP BY v
    ), na AS (SELECT CAST(SUM(c) AS BIGINT) AS na FROM ca),
    nb AS (SELECT CAST(SUM(c) AS BIGINT) AS nb FROM cb),
    cuma AS (
      SELECT u, SUM(c) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS fa
      FROM ca
    ), cumb AS (
      SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
      FROM cb
    ), merged AS (
      SELECT fa * (SELECT nb FROM nb) AS key, 0 AS is_b, u, NULL AS v
      FROM cuma
      UNION ALL
      SELECT fb * (SELECT na FROM na) AS key, 1 AS is_b, NULL, v
      FROM cumb
    ), mapped AS (
      SELECT key, is_b, v,
             -- first src1 value whose CDF fraction >= this row's fraction:
             -- on EQUAL keys the b-row must come FIRST (is_b DESC) so the
             -- forward-looking window still sees the equal-fraction u
             first_value(u IGNORE NULLS) OVER (
               ORDER BY key, is_b DESC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS u
      FROM merged
    )
    SELECT v, CAST(u AS BIGINT) AS mapped_u
    FROM mapped WHERE is_b = 1
    ORDER BY v
    """,
    doc="Quantile mapping calibration (quantile normalization): every "
        "distinct src2 document length maps to the src1 length at the "
        "same CDF position — inverse-CDF matching, the distribution-"
        "alignment transform for cross-source corpus calibration (and "
        "the batch-effect correction of bioinformatics). Exact: CDF "
        "fractions compare as cross-multiplied integers (fa*nb vs "
        "fb*na), the match is an ordered merge of both cum tables with "
        "a forward-looking IGNORE-NULLS window, ties resolved a-side-"
        "first to implement >=. Scale: both cum tables are "
        "value-distinct; the merge sweep is one ordered pass over their "
        "union (pair-partitionable for the all-pairs variant)",
)
def q_quantile_mapping_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ca = docs.filter(F.col("source") == "src1").groupBy(
        F.col("n_chars").cast("long").alias("u")
    ).agg(F.count("*").alias("c"))
    cb = docs.filter(F.col("source") == "src2").groupBy(
        F.col("n_chars").cast("long").alias("v")
    ).agg(F.count("*").alias("c"))
    na = ca.agg(F.sum("c").alias("na"))
    nb = cb.agg(F.sum("c").alias("nb"))
    wa = bounded_window("u").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wb = bounded_window("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cuma = ca.select("u", F.sum("c").over(wa).alias("fa")).crossJoin(
        F.broadcast(nb)
    ).select(
        (F.col("fa") * F.col("nb")).alias("key"),
        F.lit(0).alias("is_b"),
        "u",
        F.lit(None).cast("long").alias("v"),
    )
    cumb = cb.select("v", F.sum("c").over(wb).alias("fb")).crossJoin(
        F.broadcast(na)
    ).select(
        (F.col("fb") * F.col("na")).alias("key"),
        F.lit(1).alias("is_b"),
        F.lit(None).cast("long").alias("u"),
        "v",
    )
    merged = cuma.unionByName(cumb)
    # b-rows first on equal keys: >= must match the equal-fraction u
    wm = bounded_window("key", F.desc("is_b")).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    mapped = merged.select(
        "is_b", "v",
        F.first("u", ignorenulls=True).over(wm).alias("u"),
    )
    return (
        mapped.filter(F.col("is_b") == 1)
        .select("v", F.col("u").cast("long").alias("mapped_u"))
        .orderBy("v")
    )


# ---------------------------------------------------------------------------
# Distributed BPE trainer (Sennrich ACL'16)
# ---------------------------------------------------------------------------
# The original rows-only entries `bpe_train_merges` / `bpe_tokenize_stats`
# were retired in round 9 (r8 verdict ask #7): both became float-path-free
# shadows of the hash-grade twins `bpe_train_merges_fixed` (queries_r7)
# and `bpe_tokenize_fertility_fixed` (queries_r8), which drive the same
# operators (train_bpe / apply_bpe) under full DuckDB recursive-CTE
# oracles. The unbounded-full-vocabulary training path they exercised
# stays pinned by the python-replay tests in tests/test_queries_r4.py,
# which now call the operators directly.



# ---------------------------------------------------------------------------
# One-way ANOVA F statistic (between/within variance, exact moments)
# ---------------------------------------------------------------------------

@register(
    "anova_f_oneway",
    oracle="""
    WITH g AS (
      SELECT source,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS HUGEINT) AS ss
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS n,
             CAST(SUM(s) AS HUGEINT) AS s,
             CAST(SUM(ss) AS HUGEINT) AS ss,
             CAST(COUNT(*) AS HUGEINT) AS k
      FROM g
    ), parts AS (
      -- per-group terms floored to integers BEFORE summing, so both sums
      -- are order-free exact integers (a float sum over groups would be
      -- accumulation-order-dependent); d_g = n_g*(mean_g - mean) floored
      SELECT tot.n, tot.k, tot.ss,
             SUM(((g.s * tot.n - tot.s * g.n) * 1000 // tot.n)
                 * ((g.s * tot.n - tot.s * g.n) * 1000 // tot.n) // g.n)
               AS ssb_m2,
             SUM((g.s * g.s * 1000000) // g.n) AS sw_m2
      FROM g CROSS JOIN tot
      GROUP BY tot.n, tot.k, tot.ss
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           CAST(floor(CAST(ssb_m2 AS DOUBLE) / (CAST(k AS DOUBLE) - 1)
                      / (CAST(ss * 1000000 - sw_m2 AS DOUBLE)
                         / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                      * 1000000) AS BIGINT) AS f_ppm
    FROM parts
    """,
    doc="One-way ANOVA F statistic across sources on document length: "
        "between-group vs within-group variance from per-group integer "
        "moments (n, S, SS). Group sums stay exact integers; the "
        "between/within decomposition and the final ratio run the "
        "identical IEEE double sequence in both engines (divisions and "
        "squares on identical integers), floored to ppm — the parametric "
        "companion to the Mann-Whitney and chi-square screens. Scale: "
        "one map-side-combinable moment aggregate; everything after "
        "operates on |groups| rows",
)
def q_anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("long")
    g = docs.groupBy("source").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("s"),
        F.sum(x * x).cast("decimal(38,0)").alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"),
        F.sum("s").alias("ts"),
        F.sum("ss").alias("tss"),
        F.count("*").cast("decimal(38,0)").alias("k"),
    )
    j = g.crossJoin(F.broadcast(tot))
    # per-group terms truncated to integers BEFORE the sum (order-free;
    # a float sum over groups would be accumulation-order-dependent).
    # d_g may be negative: Spark `div` and DuckDB `//` both truncate
    # toward zero, so the two engines agree on every term.
    # milli-scaled terms: without the *1000, flooring d_g (often a small
    # integer) before squaring costs ~2/d_g relative error per group
    parts = j.groupBy("tn", "k", "tss").agg(
        F.sum(
            F.expr(
                "((s * tn - ts * n) * 1000 div tn)"
                " * ((s * tn - ts * n) * 1000 div tn) div n"
            )
        ).alias("ssb_m2"),
        F.sum(F.expr("(s * s * 1000000) div n")).alias("sw_m2"),
    )
    nd = F.col("tn").cast("double")
    kd = F.col("k").cast("double")
    f = (
        F.col("ssb_m2").cast("double") / (kd - F.lit(1.0))
        / (
            (
                F.col("tss") * F.lit(1000000).cast("decimal(38,0)")
                - F.col("sw_m2")
            ).cast("double")
            / (nd - kd)
        )
    )
    return parts.select(
        F.col("tn").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.floor(f * F.lit(1000000.0)).cast("long").alias("f_ppm"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of the daily series
# ---------------------------------------------------------------------------

@register(
    "haar_energy_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                  AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), base AS (
      SELECT event_type, day - (SELECT MIN(day) FROM daily) AS i, y
      FROM daily
    ),
    l1 AS (SELECT event_type, i // 2 AS i,
                  SUM(CASE WHEN i % 2 = 0 THEN y ELSE 0 END) AS a,
                  SUM(CASE WHEN i % 2 = 1 THEN y ELSE 0 END) AS b
           FROM base GROUP BY event_type, i // 2),
    l2 AS (SELECT event_type, i // 2 AS i,
                  SUM(CASE WHEN i % 2 = 0 THEN a + b ELSE 0 END) AS a,
                  SUM(CASE WHEN i % 2 = 1 THEN a + b ELSE 0 END) AS b
           FROM l1 GROUP BY event_type, i // 2),
    l3 AS (SELECT event_type, i // 2 AS i,
                  SUM(CASE WHEN i % 2 = 0 THEN a + b ELSE 0 END) AS a,
                  SUM(CASE WHEN i % 2 = 1 THEN a + b ELSE 0 END) AS b
           FROM l2 GROUP BY event_type, i // 2)
    SELECT event_type,
           CAST((SELECT SUM(CAST(a - b AS HUGEINT) * (a - b))
                 FROM l1 x WHERE x.event_type = d.event_type) AS BIGINT)
             AS e1,
           CAST((SELECT SUM(CAST(a - b AS HUGEINT) * (a - b))
                 FROM l2 x WHERE x.event_type = d.event_type) AS BIGINT)
             AS e2,
           CAST((SELECT SUM(CAST(a - b AS HUGEINT) * (a - b))
                 FROM l3 x WHERE x.event_type = d.event_type) AS BIGINT)
             AS e3
    FROM (SELECT DISTINCT event_type FROM daily) d
    ORDER BY event_type
    """,
    doc="Haar wavelet energy decomposition of each type's daily series: "
        "detail energy at dyadic scales 2/4/8 days (sum of squared "
        "pairwise differences of adjacent block sums — unnormalized Haar "
        "details, so everything stays exact integers). High e1 = "
        "day-to-day noise, high e2/e3 = multi-day regime shifts: the "
        "multi-resolution screen that tells transient spikes from drifts "
        "(complements CUSUM and ACF). Scale: each level is one groupBy "
        "on (type, i div 2) over rows that HALVE per level — log-depth "
        "shuffle pyramid, each tiny",
)
def q_haar_energy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts_nanos div 1000) div 86400000000").alias("day"),
    ).agg(F.count("*").alias("y"))
    dmin = daily.agg(F.min("day").alias("d0"))
    base = daily.crossJoin(F.broadcast(dmin)).select(
        "event_type", (F.col("day") - F.col("d0")).alias("i"), "y"
    )

    def level(df, val):
        return df.groupBy(
            "event_type", F.expr("i div 2").alias("i2")
        ).agg(
            F.sum(F.when(F.col("i") % 2 == 0, F.col(val)).otherwise(0))
            .alias("a"),
            F.sum(F.when(F.col("i") % 2 == 1, F.col(val)).otherwise(0))
            .alias("b"),
        ).withColumnRenamed("i2", "i")

    l1 = level(base, "y")
    l2 = level(l1.select("event_type", "i", (F.col("a") + F.col("b")).alias("y")), "y")
    l3 = level(l2.select("event_type", "i", (F.col("a") + F.col("b")).alias("y")), "y")

    def energy(df, name):
        d = (F.col("a") - F.col("b")).cast("decimal(38,0)")
        return df.groupBy("event_type").agg(
            F.sum(d * d).cast("long").alias(name)
        )

    return (
        energy(l1, "e1")
        .join(energy(l2, "e2"), "event_type")
        .join(energy(l3, "e3"), "event_type")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (randomness of the daily series)
# ---------------------------------------------------------------------------

@register(
    "runs_test_randomness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, d
    ), agg AS (
      SELECT event_type, y, COUNT(*) AS cnt FROM daily GROUP BY event_type, y
    ), cum AS (
      SELECT event_type, y,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY y
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM agg
    ), med AS (
      SELECT event_type,
             CAST(MIN(CASE WHEN 2 * cw >= n THEN y END) AS BIGINT) AS m
      FROM cum GROUP BY event_type
    ), signed AS (
      SELECT daily.event_type, d,
             CASE WHEN y > m.m THEN 1 ELSE 0 END AS above
      FROM daily JOIN med m USING (event_type)
    ), flagged AS (
      SELECT event_type, above,
             CASE WHEN lag(above) OVER (PARTITION BY event_type ORDER BY d)
                       IS DISTINCT FROM above THEN 1 ELSE 0 END AS chg
      FROM signed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(above) AS BIGINT) AS n_above,
           CAST(SUM(chg) AS BIGINT) AS n_runs
    FROM flagged GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Wald-Wolfowitz runs test inputs over each type's daily series: "
        "days classified above/at-or-below their exact median "
        "(percentile_disc crossing), then maximal same-sign runs counted "
        "with the gaps-and-islands change flag — too FEW runs means "
        "trending/sticky volumes, too many means oscillation; the "
        "nonparametric randomness screen on top of machinery the engine "
        "already has (exact median + islands). Scale: value-distinct "
        "median pass plus one type-partitioned lag window",
)
def q_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("y"))
    agg = daily.groupBy("event_type", "y").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("event_type").orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = agg.select(
        "event_type", "y",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("n"), F.col("y"))
        ).alias("m")
    )
    signed = daily.join(F.broadcast(med), "event_type").select(
        "event_type", "d",
        F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("above"),
    )
    wl = Window.partitionBy("event_type").orderBy("d")
    flagged = signed.withColumn(
        "chg",
        F.when(
            ~F.lag("above").over(wl).eqNullSafe(F.col("above")), 1
        ).otherwise(0),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("above").cast("long").alias("n_above"),
            F.sum("chg").cast("long").alias("n_runs"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cross-correlation lead-lag scan (which series leads which)
# ---------------------------------------------------------------------------

@register(
    "ccf_lead_lag",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, d
    ), a AS (SELECT d, y FROM daily WHERE event_type = 'click'),
    b AS (SELECT d, y FROM daily WHERE event_type = 'purchase'),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    paired AS (
      SELECT lags.lag, a.y AS x, b.y AS z
      FROM lags JOIN a ON TRUE JOIN b ON b.d = a.d + CAST(lags.lag AS INT)
    ), m AS (
      SELECT lag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(z) AS HUGEINT) AS sz,
             CAST(SUM(x * z) AS HUGEINT) AS sxz,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(z * z) AS HUGEINT) AS szz
      FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(floor(CAST(n * sxz - sx * sz AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      / sqrt(CAST(n * szz - sz * sz AS DOUBLE))
                      * 1000000) AS BIGINT) AS ccf_ppm
    FROM m ORDER BY lag
    """,
    doc="Cross-correlation function between the click and purchase daily "
        "series over lags -7..+7: the lag of max |ccf| says which series "
        "LEADS (positive lag = purchases follow clicks k days later) — "
        "the lead-lag scan behind demand forecasting and causal-ordering "
        "hypotheses. Each lag's Pearson runs on exact integer moments "
        "(same discipline as acf_daily_lag7), dates matched by calendar "
        "join so gaps never misalign. Scale: the 15-row lag dimension "
        "joins the tiny daily tables; one moment aggregate per lag",
)
def q_ccf_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("y"))
    a = daily.filter(F.col("event_type") == "click").select(
        F.col("d").alias("da"), F.col("y").alias("x")
    )
    b = daily.filter(F.col("event_type") == "purchase").select(
        F.col("d").alias("db"), F.col("y").alias("z")
    )
    lags = a.sparkSession.range(-7, 8).select(
        F.col("id").cast("int").alias("lag")
    )
    paired = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
    )
    m = paired.groupBy("lag").agg(*pearson_moments())
    return m.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        pearson_ppm().alias("ccf_ppm"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Dataset data card (per-source datasheet: the capstone audit report)
# ---------------------------------------------------------------------------

@register(
    "dataset_datacard",
    oracle="""
    WITH d AS (
      SELECT source, doc_id, lang, text,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST('0x' || substr(md5(lower(trim(text))), 1, 15) AS BIGINT)
               AS fp
      FROM documents
    ), base AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM d GROUP BY source
    ), lv AS (
      SELECT source, n_chars, COUNT(*) AS cnt FROM d GROUP BY source, n_chars
    ), cum AS (
      SELECT source, n_chars,
             SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM lv
    ), med AS (
      SELECT source,
             CAST(MIN(CASE WHEN 2 * cw >= n THEN n_chars END) AS BIGINT)
               AS median_chars
      FROM cum GROUP BY source
    ), toplang AS (
      SELECT source, lang, cnt, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY cnt DESC, lang) AS rn
      FROM (SELECT source, lang, COUNT(*) AS cnt FROM d
            GROUP BY source, lang)
    )
    SELECT b.source, b.n_docs, b.total_chars, m.median_chars,
           CAST((b.n_docs - b.n_unique) * 1000000 // b.n_docs AS BIGINT)
             AS dup_rate_ppm,
           t.lang AS top_lang,
           CAST(t.cnt * 1000000 // b.n_docs AS BIGINT) AS top_lang_ppm
    FROM base b
    JOIN med m USING (source)
    JOIN (SELECT * FROM toplang WHERE rn = 1) t USING (source)
    ORDER BY b.source
    """,
    doc="Per-source dataset data card (Gebru et al. 'Datasheets for "
        "Datasets' reduced to its computable core): document count, "
        "total characters, exact median length, exact duplicate rate "
        "(normalized-text fingerprints, same md5 family as the dedup "
        "stack), and dominant language with its share — the one-query "
        "audit a corpus publishes alongside itself. Every ratio is "
        "integer ppm; the median reuses the percentile_disc crossing "
        "machinery. Scale: one scan feeds all branches; per-source "
        "aggregates, a value-distinct median window, and a "
        "WindowGroupLimit-shaped top-language pick",
)
def q_dataset_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source", "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        portable_hash60(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    base = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("n_chars").alias("total_chars"),
    )
    lv = d.groupBy("source", "n_chars").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = lv.select(
        "source", "n_chars",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(Window.partitionBy("source")).alias("n"),
    )
    med = cum.groupBy("source").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("n"), F.col("n_chars"))
        ).alias("median_chars")
    )
    lc = d.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
    wt = Window.partitionBy("source").orderBy(F.desc("cnt"), "lang")
    top = lc.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= 1
    )
    return (
        base.join(med, "source")
        .join(top.select("source", "lang", "cnt"), "source")
        .select(
            "source", "n_docs", "total_chars", "median_chars",
            F.expr(
                "(n_docs - n_unique) * 1000000 div n_docs"
            ).alias("dup_rate_ppm"),
            F.col("lang").alias("top_lang"),
            F.expr("cnt * 1000000 div n_docs").alias("top_lang_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Trending movers (top-k set delta between two periods)
# ---------------------------------------------------------------------------

@register(
    "trending_movers",
    oracle="""
    WITH mid AS (
      SELECT CAST(MIN(epoch_us(ts)) + (MAX(epoch_us(ts))
                  - MIN(epoch_us(ts))) // 2 AS BIGINT) AS m
      FROM events
    ), t1 AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n1,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS r1
      FROM events CROSS JOIN mid WHERE epoch_us(ts) < mid.m
      GROUP BY user_id
    ), t2 AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n2,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS r2
      FROM events CROSS JOIN mid WHERE epoch_us(ts) >= mid.m
      GROUP BY user_id
    )
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           CAST(coalesce(a.n1, 0) AS BIGINT) AS n_first,
           CAST(coalesce(b.n2, 0) AS BIGINT) AS n_second,
           CASE WHEN a.user_id IS NULL THEN 'entered'
                WHEN b.user_id IS NULL THEN 'dropped'
                ELSE 'moved' END AS status,
           CAST(coalesce(a.r1, 21) - coalesce(b.r2, 21) AS BIGINT)
             AS rank_delta
    FROM (SELECT * FROM t1 WHERE r1 <= 20) a
    FULL OUTER JOIN (SELECT * FROM t2 WHERE r2 <= 20) b USING (user_id)
    ORDER BY user_id
    """,
    doc="Trending movers: the top-20 most active users of the first half "
        "of the time range full-outer-joined against the second half's "
        "top-20 — who entered, who dropped, and how ranks moved (absent "
        "side pinned at rank 21) — the leaderboard-delta report behind "
        "every 'trending' dashboard. Exact integer midpoint split. "
        "Scale: two filtered user aggregates (one scan each), rank "
        "windows with literal bounds (InferWindowGroupLimit), and a "
        "40-row-max outer join",
)
def q_trending_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")
    mid = ev.agg(
        (
            F.min(us) + (F.max(us) - F.min(us)) / F.lit(2)
        ).cast("long").alias("m")
    )
    e = ev.select("user_id", us.alias("us")).crossJoin(F.broadcast(mid))

    def side(df, cmp_col, n_name, r_name):
        g = df.groupBy("user_id").agg(F.count("*").alias(n_name))
        w = bounded_window(F.desc(n_name), "user_id")
        return g.select(
            "user_id", n_name,
            F.row_number().over(w).cast("long").alias(r_name),
        ).filter(F.col(r_name) <= 20)

    t1 = side(e.filter(F.col("us") < F.col("m")), "us", "n1", "r1")
    t2 = side(e.filter(F.col("us") >= F.col("m")), "us", "n2", "r2")
    j = t1.join(t2, ["user_id"], "full_outer")
    return j.select(
        "user_id",
        F.coalesce(F.col("n1"), F.lit(0)).alias("n_first"),
        F.coalesce(F.col("n2"), F.lit(0)).alias("n_second"),
        F.when(F.col("n1").isNull(), "entered")
        .when(F.col("n2").isNull(), "dropped")
        .otherwise("moved").alias("status"),
        (
            F.coalesce(F.col("r1"), F.lit(21))
            - F.coalesce(F.col("r2"), F.lit(21))
        ).cast("long").alias("rank_delta"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Hierarchical contribution shares (percent-of-parent rollup)
# ---------------------------------------------------------------------------

@register(
    "hierarchical_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY region, nation
    ), w AS (
      SELECT region, nation, rev_c,
             SUM(rev_c) OVER (PARTITION BY region) AS region_c,
             SUM(rev_c) OVER () AS total_c
      FROM rev
    )
    SELECT region, nation, rev_c,
           CAST(rev_c * 1000000 // region_c AS BIGINT)
             AS share_of_region_ppm,
           CAST(region_c * 1000000 // total_c AS BIGINT)
             AS region_share_ppm
    FROM w ORDER BY region, nation
    """,
    doc="Hierarchical contribution report: nation revenue with its share "
        "of the parent region and the region's share of the grand total "
        "(percent-of-parent at each level, exact integer ppm) — the "
        "drill-down contribution layout every BI hierarchy renders. "
        "Scale: the fact table reduces to one row per nation before any "
        "window; both share windows run over that 25-row table",
)
def q_hierarchical_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                cents_nonneg(F.col("o_totalprice"))
            ).alias("rev_c")
        )
    )
    w = rev.select(
        "region", "nation", "rev_c",
        F.sum("rev_c").over(Window.partitionBy("region")).alias("region_c"),
        F.sum("rev_c").over(bounded_window()).alias("total_c"),
    )
    return w.select(
        "region", "nation", "rev_c",
        F.expr("rev_c * 1000000 div region_c").alias("share_of_region_ppm"),
        F.expr("region_c * 1000000 div total_c").alias("region_share_ppm"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Discounted cohort LTV (exact dyadic-free integer discounting)
# ---------------------------------------------------------------------------

@register(
    "discounted_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(epoch_us(ts) // 604800000000) AS w0
      FROM events GROUP BY user_id
    ), spend AS (
      SELECT e.user_id,
             CAST(epoch_us(e.ts) // 604800000000 - f.w0 AS BIGINT) AS k,
             CAST(round(e.value * 100) AS BIGINT) AS c
      FROM events e JOIN f USING (user_id)
      WHERE e.event_type = 'purchase'
    ), byk AS (
      SELECT f.w0 AS cohort_week, spend.k,
             CAST(SUM(spend.c) AS BIGINT) AS rev_c
      FROM spend JOIN f USING (user_id)
      GROUP BY cohort_week, spend.k
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(SUM(rev_c) AS BIGINT) AS raw_ltv_c,
           CAST(SUM(rev_c * CAST(power(9, k) AS HUGEINT)
                    // CAST(power(10, k) AS HUGEINT)) AS BIGINT)
             AS disc_ltv_c
    FROM byk
    GROUP BY cohort_week
    ORDER BY cohort_week
    """,
    doc="Discounted cohort lifetime value: purchase revenue by (first-"
        "activity week cohort, week offset k), summed raw and with a 10% "
        "weekly discount applied as EXACT integer arithmetic — "
        "rev * 9^k div 10^k with k bounded by the observation window, so "
        "the integer powers stay small and both engines agree digit for "
        "digit (a float 0.9^k discount would drift). The finance-grade "
        "retention economics metric on top of the cohort machinery. "
        "Scale: first-week table joins back broadcast; one (cohort, k) "
        "aggregate",
)
def q_discounted_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wk = F.expr("(ts_nanos div 1000) div 604800000000")
    f = ev.groupBy("user_id").agg(F.min(wk).alias("w0"))
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(f), "user_id")
        .select(
            F.col("w0").alias("cohort_week"),
            (wk - F.col("w0")).alias("k"),
            cents_nonneg(F.col("value")).alias("c"),
        )
    )
    byk = spend.groupBy("cohort_week", "k").agg(
        F.sum("c").alias("rev_c")
    )
    disc = F.expr(
        "rev_c * CAST(power(9, k) AS DECIMAL(38,0))"
        " div CAST(power(10, k) AS DECIMAL(38,0))"
    )
    return (
        byk.groupBy("cohort_week")
        .agg(
            F.sum("rev_c").cast("long").alias("raw_ltv_c"),
            F.sum(disc).cast("long").alias("disc_ltv_c"),
        )
        .select(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            "raw_ltv_c", "disc_ltv_c",
        )
        .orderBy("cohort_week")
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald SPRT) per user
# ---------------------------------------------------------------------------

# log-likelihood-ratio increments for H1: p=0.6 vs H0: p=0.5, and the
# +-ln(19) decision bounds (alpha = beta = 0.05), all pre-floored to
# micro-nats so both engines walk the identical integer path
_SPRT_UP = 182321       # floor(1e6 * ln(0.6/0.5)) per success
_SPRT_DN = -223144      # floor(1e6 * ln(0.4/0.5)) per failure
_SPRT_BOUND = 2944438   # floor(1e6 * ln(19))


@register(
    "sprt_purchase_rate",
    oracle=f"""
    WITH obs AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN event_type = 'purchase' THEN {_SPRT_UP}
                  ELSE {_SPRT_DN} END AS llr
      FROM events WHERE event_type IN ('purchase', 'click')
    ), walk AS (
      SELECT user_id, us, event_id,
             SUM(llr) OVER w AS s,
             ROW_NUMBER() OVER w AS i
      FROM obs
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), crossings AS (
      SELECT user_id, i, s,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY i) AS rc
      FROM walk
      WHERE s >= {_SPRT_BOUND} OR s <= -{_SPRT_BOUND}
    ), tot AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM walk GROUP BY user_id
    )
    SELECT t.user_id, t.n_obs,
           CAST(coalesce(c.i, -1) AS BIGINT) AS decided_at,
           CASE WHEN c.i IS NULL THEN 'continue'
                WHEN c.s >= {_SPRT_BOUND} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM tot t
    LEFT JOIN (SELECT * FROM crossings WHERE rc = 1) c USING (user_id)
    ORDER BY t.user_id
    """,
    doc="Wald's sequential probability ratio test per user (H1: purchase "
        "share 0.6 vs H0: 0.5 over the purchase/click stream, "
        "alpha=beta=0.05): the log-likelihood random walk uses "
        "pre-floored micro-nat increments (identical integer constants "
        "both engines), and the first boundary crossing fixes the "
        "decision and its sample number — sequential testing stops "
        "experiments early instead of waiting for a fixed horizon. "
        "Scale: ONE user-partitioned ordered window builds the walk; "
        "crossings filter scan-side; the first-crossing pick is a "
        "literal-bounded rank",
)
def q_sprt_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    llr = F.when(
        F.col("event_type") == "purchase", F.lit(_SPRT_UP)
    ).otherwise(F.lit(_SPRT_DN))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    walk = ev.select(
        "user_id", llr.alias("llr"),
        F.expr("ts_nanos div 1000").alias("us"), "event_id",
    ).select(
        "user_id",
        F.sum("llr").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("s"),
        F.row_number().over(w).alias("i"),
    )
    tot = walk.groupBy("user_id").agg(F.count("*").alias("n_obs"))
    crossings = walk.filter(
        (F.col("s") >= _SPRT_BOUND) | (F.col("s") <= -_SPRT_BOUND)
    )
    wc = Window.partitionBy("user_id").orderBy("i")
    first = crossings.withColumn(
        "rc", F.row_number().over(wc)
    ).filter(F.col("rc") <= 1)
    return (
        tot.join(first.select("user_id", "i", "s"), ["user_id"], "left")
        .select(
            "user_id",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.coalesce(F.col("i").cast("long"), F.lit(-1)).alias(
                "decided_at"
            ),
            F.when(F.col("i").isNull(), "continue")
            .when(F.col("s") >= _SPRT_BOUND, "accept_h1")
            .otherwise("accept_h0").alias("decision"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous LPA, bounded iterations)
# ---------------------------------------------------------------------------

def _lpa_oracle(iters: int = 3) -> str:
    ctes = ["""
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2, COUNT(*) AS w
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    ),
    e AS (SELECT p1 AS u, p2 AS v FROM pr
          UNION ALL SELECT p2, p1 FROM pr),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e)"""]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(f"""
    cnt{i} AS (SELECT e.u, l{p}.lbl, COUNT(*) AS c
               FROM e JOIN l{p} ON l{p}.node = e.v GROUP BY e.u, l{p}.lbl),
    pick{i} AS (SELECT u, lbl FROM (
                  SELECT u, lbl, ROW_NUMBER() OVER (
                    PARTITION BY u ORDER BY c DESC, lbl) AS rn
                  FROM cnt{i}) WHERE rn = 1),
    l{i} AS (SELECT l{p}.node, coalesce(p.lbl, l{p}.lbl) AS lbl
             FROM l{p} LEFT JOIN pick{i} p ON p.u = l{p}.node)""")
    return (
        "WITH" + ",".join(ctes) + f"""
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{iters} GROUP BY lbl
    ORDER BY n_members DESC, community
    LIMIT 50
    """
    )


@register(
    "lpa_communities",
    oracle=_lpa_oracle(),
    doc="Synchronous label propagation communities (Raghavan et al. 2007) "
        "over the co-purchase graph (parts sharing >= 2 baskets): three "
        "synchronous rounds where each node adopts the most frequent "
        "label among its neighbors (ties -> smallest label, isolated "
        "nodes keep theirs) — community structure, which connected "
        "components cannot see (CC merges everything reachable; LPA's "
        "mode update respects edge density). Fully deterministic, so the "
        "oracle unrolls the three rounds as chained CTEs (the pagerank "
        "pattern). Output: top community sizes. Scale: per round one "
        "neighbor join + one (node, label) count + a WindowGroupLimit "
        "argmax — O(iters) shuffles of the edge list, labels "
        "localCheckpoint'd like connected_components",
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, undirected

    e = undirected(co_purchase_pairs(_t(spark, sf_dir, "lineitem")))
    e = e.localCheckpoint()
    labels = e.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint()
    for _ in range(3):
        nbr = e.join(labels, e.v == labels.node).select(
            e.u.alias("nu"), "lbl"
        )
        cnt = nbr.groupBy("nu", "lbl").agg(F.count("*").alias("c"))
        w = Window.partitionBy("nu").orderBy(F.desc("c"), "lbl")
        pick = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 1)
            .select(F.col("nu").alias("node"), F.col("lbl").alias("new_lbl"))
        )
        labels = labels.join(pick, "node", "left").select(
            "node",
            F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
        ).localCheckpoint()
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Clustering coefficient per node (triangle density, co-purchase graph)
# ---------------------------------------------------------------------------

_G_EDGES_SQL = """
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    )"""


@register(
    "clustering_coefficient",
    oracle=f"""
    WITH {_G_EDGES_SQL},
    e AS (SELECT p1 AS u, p2 AS v FROM pr
          UNION ALL SELECT p2, p1 FROM pr),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    tri AS (  -- oriented wedge u<v<w closed by (u,w): credits each corner
      SELECT x.n AS node, CAST(COUNT(*) AS BIGINT) AS t
      FROM pr ab
      JOIN pr bc ON bc.p1 = ab.p2
      JOIN pr ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2
      CROSS JOIN LATERAL (SELECT unnest([ab.p1, ab.p2, bc.p2]) AS n) x
      GROUP BY node
    )
    SELECT deg.u AS node, deg.d AS degree,
           CAST(coalesce(tri.t, 0) AS BIGINT) AS n_triangles,
           CAST(coalesce(tri.t, 0) * 2000000 // (deg.d * (deg.d - 1))
                AS BIGINT) AS clustering_ppm
    FROM deg LEFT JOIN tri ON tri.node = deg.u
    WHERE deg.d >= 2
    ORDER BY clustering_ppm DESC, node
    LIMIT 50
    """,
    doc="Local clustering coefficient on the co-purchase graph: per node, "
        "2*triangles / (deg*(deg-1)) in exact ppm — how clique-like each "
        "part's neighborhood is, the small-world diagnostic that "
        "complements the global triangle count. Triangles enumerate once "
        "per id-ordered triple (two oriented joins, the node-iterator "
        "orientation trick) and credit all three corners via a 3-element "
        "explode. Scale: the oriented join only extends edges where "
        "p1<p2, keeping the wedge fan-out to the ordered adjacency "
        "lists; per-node credit is a map-side-combinable count",
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, undirected

    pr = co_purchase_pairs(_t(spark, sf_dir, "lineitem")).localCheckpoint()
    e = undirected(pr, "p1", "p2")
    deg = e.groupBy(F.col("p1").alias("u")).agg(F.count("*").alias("d"))
    ab, bc, ac = pr.alias("ab"), pr.alias("bc"), pr.alias("ac")
    triples = (
        ab.join(bc, F.col("bc.p1") == F.col("ab.p2"))
        .join(
            ac,
            (F.col("ac.p1") == F.col("ab.p1"))
            & (F.col("ac.p2") == F.col("bc.p2")),
        )
        .select(
            F.explode(
                F.array(
                    F.col("ab.p1"), F.col("ab.p2"), F.col("bc.p2")
                )
            ).alias("node")
        )
    )
    tri = triples.groupBy("node").agg(F.count("*").alias("t"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg.u == tri.node, "left")
        .select(
            F.col("u").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.expr(
                "coalesce(t, 0) * 2000000 div (d * (d - 1))"
            ).alias("clustering_ppm"),
        )
        .orderBy(F.desc("clustering_ppm"), "node")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Degree assortativity (do hubs link to hubs?)
# ---------------------------------------------------------------------------

@register(
    "degree_assortativity",
    oracle=f"""
    WITH {_G_EDGES_SQL},
    e AS (SELECT p1 AS u, p2 AS v FROM pr
          UNION ALL SELECT p2, p1 FROM pr),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    de AS (
      SELECT du.d AS x, dv.d AS z
      FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(z) AS HUGEINT) AS sz,
             CAST(SUM(x * z) AS HUGEINT) AS sxz,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(z * z) AS HUGEINT) AS szz
      FROM de
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           CAST(floor(CAST(n * sxz - sx * sz AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      / sqrt(CAST(n * szz - sz * sz AS DOUBLE))
                      * 1000000) AS BIGINT) AS assortativity_ppm
    FROM m
    """,
    doc="Degree assortativity of the co-purchase graph (Newman 2002): "
        "Pearson correlation of endpoint degrees over directed edges — "
        "positive means hubs prefer hubs (resilient core), negative "
        "means hub-and-spoke; decides whether degree-based salting or "
        "hub isolation is the right skew strategy. Exact integer moments "
        "(same discipline as stats_corr_exact), degrees attached by two "
        "broadcastable joins against the degree table. Scale: one edge "
        "scan + degree table joins; a single moment aggregate",
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, undirected

    pr = co_purchase_pairs(_t(spark, sf_dir, "lineitem")).localCheckpoint()
    e = undirected(pr)
    deg = e.groupBy(F.col("u").alias("n_")).agg(F.count("*").alias("d"))
    de = (
        e.join(deg.withColumnRenamed("d", "x"), e.u == F.col("n_"))
        .drop("n_")
        .join(deg.withColumnRenamed("d", "z"), e.v == F.col("n_"))
        .select("x", "z")
    )
    m = de.agg(*pearson_moments())
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        pearson_ppm().alias("assortativity_ppm"),
    )


# ---------------------------------------------------------------------------
# Classifier evaluation metrics (precision / recall / F1 for lang-ID)
# ---------------------------------------------------------------------------

@register(
    "langid_eval_metrics",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
        len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
        len(list_filter(t, x -> x IN ('le','la','les','et','est','un'))) AS s_fr,
        len(list_filter(t, x -> x IN ('el','la','los','y','es','un'))) AS s_es,
        len(list_filter(t, x -> x IN ('的','是','了','在'))) AS s_zh
      FROM toks
    ), pred AS (
      SELECT doc_id, lang,
        CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) <= 0 THEN 'und'
             WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
             WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'fr'
             WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
             WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'zh'
             ELSE 'und' END AS p
      FROM scores
    ), per AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS support,
             CAST(SUM(CASE WHEN p = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM pred GROUP BY lang
    ), pcnt AS (
      SELECT p AS lang, CAST(COUNT(*) AS BIGINT) AS pred_n
      FROM pred GROUP BY p
    )
    SELECT per.lang, per.support, per.tp,
           CAST(coalesce(pc.pred_n, 0) AS BIGINT) AS pred_n,
           CAST(CASE WHEN coalesce(pc.pred_n, 0) = 0 THEN 0
                     ELSE per.tp * 1000000 // pc.pred_n END AS BIGINT)
             AS precision_ppm,
           CAST(per.tp * 1000000 // per.support AS BIGINT) AS recall_ppm,
           CAST(per.tp * 2000000 // (coalesce(pc.pred_n, 0) + per.support)
                AS BIGINT) AS f1_ppm
    FROM per LEFT JOIN pcnt pc USING (lang)
    ORDER BY per.lang
    """,
    doc="Classifier evaluation report for the language-ID heuristic "
        "against the labeled lang column: per-class support, true "
        "positives, precision, recall, and F1 — with F1 computed through "
        "the exact integer identity 2TP/(pred_n + support) (never the "
        "float 2PR/(P+R), whose division order is engine-specific). The "
        "model-evaluation primitive every curation-classifier loop "
        "needs. Scale: predictions are scan-side codegen expressions; "
        "two small aggregates and a |classes|-row join",
)
def q_langid_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", lang_id(F.col("text")).alias("p")
    )
    per = pred.groupBy("lang").agg(
        F.count("*").alias("support"),
        F.sum(
            F.when(F.col("p") == F.col("lang"), 1).otherwise(0)
        ).alias("tp"),
    )
    pcnt = pred.groupBy(F.col("p").alias("lang")).agg(
        F.count("*").alias("pred_n")
    )
    return (
        per.join(pcnt, "lang", "left")
        .select(
            "lang", "support", "tp",
            F.coalesce(F.col("pred_n"), F.lit(0)).alias("pred_n"),
            F.when(
                F.coalesce(F.col("pred_n"), F.lit(0)) == 0, F.lit(0)
            ).otherwise(
                F.expr("tp * 1000000 div pred_n")
            ).cast("long").alias("precision_ppm"),
            F.expr("tp * 1000000 div support").alias("recall_ppm"),
            F.expr(
                "tp * 2000000 div (coalesce(pred_n, 0) + support)"
            ).alias("f1_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Dedup distribution-shift audit (does dedup bias the corpus?)
# ---------------------------------------------------------------------------

@register(
    "dedup_distribution_shift",
    oracle="""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
             CAST('0x' || substr(md5(lower(trim(text))), 1, 15) AS BIGINT)
               AS fp
      FROM documents
    ), keep AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM d GROUP BY fp
    ), ca AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY v
    ), cb AS (
      SELECT d.v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM d JOIN keep USING (fp, doc_id) GROUP BY d.v
    ), na AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM ca),
    nb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cb),
    merged AS (
      SELECT v, coalesce(a.cnt, 0) AS xa, coalesce(b.cnt, 0) AS xb
      FROM ca a FULL OUTER JOIN cb b USING (v)
    ), cum AS (
      SELECT v,
             SUM(xa) OVER w AS fa, SUM(xb) OVER w AS fb,
             lead(v) OVER (ORDER BY v) AS nv
      FROM merged
      WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    )
    SELECT (SELECT n FROM na) AS n_before,
           (SELECT n FROM nb) AS n_after,
           CAST(SUM(abs(CAST(fa AS HUGEINT) * (SELECT n FROM nb)
                        - CAST(fb AS HUGEINT) * (SELECT n FROM na))
                    * (nv - v)) * 1000
                // (CAST((SELECT n FROM na) AS HUGEINT)
                    * (SELECT n FROM nb)) AS BIGINT) AS emd_milli
    FROM cum WHERE nv IS NOT NULL
    """,
    doc="Dedup bias audit: the exact 1-D Wasserstein distance between the "
        "corpus' document-length distribution BEFORE and AFTER exact "
        "dedup (keep = min doc_id per normalized-text fingerprint) — "
        "duplicates cluster at particular lengths, so dedup shifts the "
        "distribution, and this measures by exactly how much (the "
        "before/after audit every curation stage should publish; "
        "emd_drift_matrix machinery pointed at the pipeline itself). "
        "Scale: one scan builds both count tables; one ordered sweep "
        "over distinct lengths",
)
def q_dedup_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("v"),
        portable_hash60(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    ca = d.groupBy("v").agg(F.count("*").alias("xa"))
    cb = d.join(keep, ["fp", "doc_id"]).groupBy("v").agg(
        F.count("*").alias("xb")
    )
    na = ca.agg(F.sum("xa").alias("na"))
    nb = cb.agg(F.sum("xb").alias("nb"))
    merged = (
        ca.join(cb, ["v"], "full_outer")
        .select(
            "v",
            F.coalesce(F.col("xa"), F.lit(0)).alias("xa"),
            F.coalesce(F.col("xb"), F.lit(0)).alias("xb"),
        )
    )
    wc = bounded_window("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = bounded_window("v")
    cum = merged.select(
        "v",
        F.sum("xa").over(wc).alias("fa"),
        F.sum("xb").over(wc).alias("fb"),
        F.lead("v").over(wl).alias("nv"),
    ).crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
    return (
        cum.filter(F.col("nv").isNotNull())
        .groupBy("na", "nb")
        .agg(
            F.expr(
                "CAST(SUM(ABS(CAST(fa AS DECIMAL(38,0)) * nb"
                " - CAST(fb AS DECIMAL(38,0)) * na) * (nv - v)) * 1000"
                " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("emd_milli"),
        )
        .select(
            F.col("na").cast("long").alias("n_before"),
            F.col("nb").cast("long").alias("n_after"),
            "emd_milli",
        )
    )


# ---------------------------------------------------------------------------
# Filter impact report (what each quality rule removes)
# ---------------------------------------------------------------------------

@register(
    "filter_impact_report",
    oracle="""
    WITH s AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ddr,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text) AS pr
      FROM documents
    ), v AS (
      SELECT doc_id, n_chars,
             CASE WHEN n_tok < 20 THEN 'too_short'
                  WHEN ddr < 0.4 THEN 'low_diversity'
                  WHEN pr > 0.1 THEN 'high_punct'
                  ELSE 'keep' END AS verdict
      FROM s
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS chars FROM v
    )
    SELECT v.verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(v.n_chars) AS BIGINT) AS n_chars,
           CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS doc_share_ppm,
           CAST(SUM(v.n_chars) * 1000000 // tot.chars AS BIGINT)
             AS char_share_ppm
    FROM v CROSS JOIN tot
    GROUP BY v.verdict, tot.n, tot.chars
    ORDER BY v.verdict
    """,
    doc="Filter impact report: for each quality rule (the quality_filter "
        "first-failing-rule chain) the documents and characters it "
        "removes, as counts and exact ppm shares — the per-stage yield "
        "accounting a curation pipeline publishes so a threshold change "
        "can be costed before running (pair with "
        "dedup_distribution_shift for the full before/after audit). "
        "Scale: scan-side verdicts, one aggregate over <= 4 verdict "
        "groups",
)
def q_filter_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    verdict = quality_verdict(F.col("text"))
    v = docs.select(
        verdict.alias("verdict"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    tot = v.agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("chars")
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .groupBy("verdict", "n", "chars")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("_nc"),
        )
        .select(
            "verdict", "n_docs",
            F.col("_nc").cast("long").alias("n_chars"),
            F.expr("n_docs * 1000000 div n").alias("doc_share_ppm"),
            F.expr("_nc * 1000000 div chars").alias("char_share_ppm"),
        )
        .orderBy("verdict")
    )



# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (right-censored, integer-compounded)
# ---------------------------------------------------------------------------

@register(
    "kaplan_meier_survival",
    oracle="""
    WITH RECURSIVE per AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS first_us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_buy_us
      FROM events GROUP BY user_id
    ), horizon AS (SELECT MAX(epoch_us(ts)) AS h FROM events),
    life AS (
      SELECT CAST(CASE WHEN first_buy_us IS NOT NULL
                  THEN (first_buy_us - first_us) // 86400000000
                  ELSE (horizon.h - first_us) // 86400000000 END
                  AS BIGINT) AS t_days,
             CAST(CASE WHEN first_buy_us IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS died
      FROM per CROSS JOIN horizon
    ), n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM life),
    ev AS (
      SELECT t_days, CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS removed
      FROM life GROUP BY t_days
    ), risk AS (
      SELECT t_days, d,
             (SELECT n FROM n_tot)
               - coalesce(SUM(removed) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nr
      FROM ev
    ), dt AS (
      -- survival compounds sequentially, so the curve is ONE recursive
      -- chain over death times (was per-row prefix list_reduce folds:
      -- DuckDB v1.0.0's vectorized list_reduce mis-folds rows in
      -- multi-row batches with varying list lengths — round-9 probe)
      SELECT t_days, d, nr,
             ROW_NUMBER() OVER (ORDER BY t_days) AS rn
      FROM risk WHERE d > 0
    ), walk AS (
      SELECT 0 AS rn, CAST(0 AS BIGINT) AS t_days, CAST(0 AS BIGINT) AS d,
             CAST(0 AS BIGINT) AS nr, CAST(1000000 AS BIGINT) AS s_ppm
      UNION ALL
      SELECT s.rn, s.t_days, s.d, s.nr,
             w.s_ppm * (s.nr - s.d) // s.nr
      FROM walk w JOIN dt s ON s.rn = w.rn + 1
    )
    SELECT CAST(t_days AS BIGINT) AS t_days, CAST(d AS BIGINT) AS d,
           CAST(nr AS BIGINT) AS n_at_risk, CAST(s_ppm AS BIGINT) AS s_ppm
    FROM walk WHERE rn >= 1
    ORDER BY t_days
    """,
    doc="Kaplan-Meier time-to-conversion curve (days from first activity "
        "to first purchase; never-purchasers right-censored at the "
        "observation horizon): S(t) compounds (n_i - d_i)/n_i at "
        "each death time as ppm integers — each step one multiply + one "
        "truncating divide on identical integers, so the whole curve is "
        "engine-exact (a float product would drift and depend on "
        "nothing, but the per-step floor must match, which div/// do). "
        "The retention/survivorship estimator done right (naive "
        "retention curves ignore censoring and understate survival). "
        "Scale: lifetimes are one user-keyed aggregate; the curve folds "
        "over the death-time table, which has at most one row per "
        "distinct lifetime day — driver-size, like every KM curve",
)
def q_kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")
    per = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("first_buy_us"),
    )
    horizon = ev.agg(F.max(us).alias("h"))
    life = per.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("first_buy_us").isNotNull(),
            F.expr("(first_buy_us - first_us) div 86400000000"),
        )
        .otherwise(F.expr("(h - first_us) div 86400000000"))
        .cast("long").alias("t_days"),
        F.when(F.col("first_buy_us").isNotNull(), 1)
        .otherwise(0).cast("long").alias("died"),
    )
    n_tot = life.agg(F.count("*").alias("n"))
    evt = life.groupBy("t_days").agg(
        F.sum("died").alias("d"), F.count("*").alias("removed")
    )
    wb = bounded_window("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = evt.crossJoin(F.broadcast(n_tot)).select(
        "t_days", "d",
        (
            F.col("n")
            - F.coalesce(F.sum("removed").over(wb), F.lit(0))
        ).alias("nr"),
    ).filter(F.col("d") > 0)
    seq = (
        risk.select(
            F.struct("t_days", "d", "nr").alias("s")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            F.transform("ss", lambda r: r["t_days"]).alias("ts"),
            F.transform("ss", lambda r: r["d"]).alias("ds"),
            F.transform("ss", lambda r: r["nr"]).alias("nrs"),
            F.transform(
                "ss",
                lambda r: (r["nr"] - r["d"]) * 1048576 + r["nr"],
            ).alias("xs"),
        )
    )
    expanded = seq.select(
        "ts", "ds", "nrs", "xs",
        F.explode(
            F.sequence(F.lit(1), F.size("ts"))
        ).alias("i"),
    )
    fold = F.aggregate(
        F.slice("xs", 1, F.col("i")),
        F.lit(1000000).cast("long"),
        lambda acc, x: (
            (acc * (x / 1048576).cast("long")) / (x % 1048576)
        ).cast("long"),
    )
    return expanded.select(
        F.element_at("ts", F.col("i")).cast("long").alias("t_days"),
        F.element_at("ds", F.col("i")).cast("long").alias("d"),
        F.element_at("nrs", F.col("i")).cast("long").alias("n_at_risk"),
        fold.alias("s_ppm"),
    ).orderBy("t_days")


# ---------------------------------------------------------------------------
# Simpson diversity index (log-free concentration measure)
# ---------------------------------------------------------------------------

@register(
    "simpson_diversity",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ), t AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY source
    )
    SELECT c.source,
           CAST(MIN(t.tot) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(CAST(c.n AS HUGEINT) * (c.n - 1)) * 1000000
                // (CAST(MIN(t.tot) AS HUGEINT) * (MIN(t.tot) - 1))
                AS BIGINT) AS simpson_ppm
    FROM c JOIN t USING (source)
    GROUP BY c.source
    ORDER BY c.source
    """,
    doc="Simpson concentration index of the language mix per source: "
        "D = sum n_i(n_i-1) / (N(N-1)), the probability two random "
        "documents share a language — the diversity/concentration "
        "measure that needs NO logarithm, so it is exact integer ppm "
        "cross-engine where Shannon entropy would lean on ln (1 - D is "
        "the Gini-Simpson diversity). Scale: two nested "
        "map-side-combinable aggregates",
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source")
        .agg(
            F.min("tot").cast("long").alias("n_docs"),
            F.count("*").alias("n_langs"),
            F.expr(
                "CAST(SUM(CAST(n AS DECIMAL(38,0)) * (n - 1)) * 1000000"
                " div (CAST(MIN(tot) AS DECIMAL(38,0)) * (MIN(tot) - 1))"
                " AS BIGINT)"
            ).alias("simpson_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Frequent triples (itemset mining one level past pairs)
# ---------------------------------------------------------------------------

@register(
    "frequent_triples",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    baskets AS (
      SELECT l_orderkey, list_sort(list(l_partkey)) AS ps
      FROM b GROUP BY l_orderkey
    ), triples AS (
      SELECT ps[i] AS p1, ps[j] AS p2, ps[k] AS p3
      FROM baskets,
           -- positions up to 32: max distinct parts per order is 17 at
           -- sf0.1; the k <= len(ps) guard makes excess positions free
           (SELECT unnest(range(1, 33)) AS i),
           (SELECT unnest(range(1, 33)) AS j),
           (SELECT unnest(range(1, 33)) AS k)
      WHERE i < j AND j < k AND k <= len(ps)
    )
    SELECT p1, p2, p3, CAST(COUNT(*) AS BIGINT) AS support
    FROM triples
    GROUP BY p1, p2, p3
    HAVING COUNT(*) >= 2
    ORDER BY support DESC, p1, p2, p3
    LIMIT 50
    """,
    doc="Frequent 3-itemsets over order baskets (the Apriori level past "
        "market_basket_lift's pairs): id-ordered triples expanded "
        "scan-side from each basket's sorted item array — O(basket^3) "
        "per order with baskets bounded (~13 distinct parts max here), "
        "never a global join. Support-filtered "
        "top-50. The bundle-recommendation primitive (pairs say which "
        "two sell together; triples catch the basket archetypes pairs "
        "miss). Scale: one basket groupBy + map-side-combinable triple "
        "count; TakeOrderedAndProject top-k",
)
def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    baskets = b.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    # triple expansion via nested transforms over the bounded array
    triples_arr = F.flatten(
        F.flatten(
            F.transform(
                "ps",
                lambda x, i: F.transform(
                    F.slice(F.col("ps"), i + 2, F.size("ps")),
                    lambda y, j: F.transform(
                        F.slice(
                            F.col("ps"),
                            i + j + 3,
                            F.size("ps"),
                        ),
                        lambda z: F.struct(
                            x.alias("p1"), y.alias("p2"), z.alias("p3")
                        ),
                    ),
                ),
            )
        )
    )
    return (
        baskets.select(F.explode(triples_arr).alias("t"))
        .groupBy(
            F.col("t.p1").alias("p1"),
            F.col("t.p2").alias("p2"),
            F.col("t.p3").alias("p3"),
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "p1", "p2", "p3")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing backtest (two-register fold, packed oracle)
# ---------------------------------------------------------------------------

@register(
    "holt_forecast_backtest",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, d
    ), seq AS (
      -- per-type recursive-CTE fold, NOT list_reduce: DuckDB v1.0.0's
      -- vectorized list_reduce mis-folds rows in multi-row batches with
      -- varying list lengths (round-9 probe, SCALE.md). acc packs
      -- (level+OFF, trend+OFF, sae) into one BIGINT:
      -- ((lv+2^20)*2^21 + (tr+2^20))*2^21 + sae, each register < 2^20
      -- in magnitude (daily counts are small); alpha=1/4, beta=1/4.
      SELECT event_type, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily
    ), cnt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM seq
      GROUP BY event_type
    ), walk AS (
      SELECT s.event_type, 1 AS it,
             ((s.n + 1048576) * 2097152 + (0 + 1048576)) * 2097152 + 0 AS a
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT w.event_type, w.it + 1,
             (((s.n
                 + 3 * ((w.a // 4398046511104) - 1048576
                        + ((w.a // 2097152) % 2097152) - 1048576))
                // 4 + 1048576) * 2097152
              + (((s.n - ((w.a // 4398046511104) - 1048576))
                  + 3 * (((w.a // 2097152) % 2097152) - 1048576))
                 // 4 + 1048576)) * 2097152
             + (w.a % 2097152)
             + abs(s.n - ((w.a // 4398046511104) - 1048576)
                   - (((w.a // 2097152) % 2097152) - 1048576))
      FROM walk w JOIN seq s ON s.event_type = w.event_type
                            AND s.rn = w.it + 1
    )
    SELECT w.event_type, c.n_days,
           CAST((w.a // 4398046511104) - 1048576 AS BIGINT) AS level_final,
           CAST(((w.a // 2097152) % 2097152) - 1048576 AS BIGINT)
             AS trend_final,
           CAST(w.a % 2097152 AS BIGINT) AS sum_abs_err,
           CAST((w.a % 2097152) * 1000 // (c.n_days - 1) AS BIGINT)
             AS mae_ppk
    FROM walk w JOIN cnt c ON c.event_type = w.event_type
                          AND w.it = c.n_days
    """,
    doc="Holt linear-trend (double exponential) smoothing backtest per "
        "event type, alpha=beta=1/4: forecast = level + trend, then "
        "level' = (x + 3*(level+trend)) div 4 and trend' = ((x - level) "
        "+ 3*trend) div 4 — a TWO-register integer recurrence. Spark "
        "folds a struct accumulator; the oracle packs (level, trend, "
        "error-sum) into one offset-biased BIGINT (the DuckDB "
        "struct-lambda quirk workaround, registers bounded < 2^20). "
        "Compare mae_ppk with ses_forecast_backtest and "
        "seasonal_naive_backtest to pick the baseline family. Scale: "
        "daily pre-aggregate, one tiny ordered fold per group",
)
def q_holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    init = F.struct(
        F.element_at("xs", 1).alias("lv"),
        F.lit(0).cast("long").alias("tr"),
        F.lit(0).cast("long").alias("sae"),
    )

    def step(acc, x):
        fc = acc["lv"] + acc["tr"]
        err = x - fc
        new_lv = ((x + 3 * fc) / 4).cast("long")
        new_tr = (((x - acc["lv"]) + 3 * acc["tr"]) / 4).cast("long")
        return F.struct(
            new_lv.alias("lv"),
            new_tr.alias("tr"),
            (acc["sae"] + F.abs(err)).alias("sae"),
        )

    fold = _daily_event_fold(spark, sf_dir, init, step)
    return fold.select(
        "event_type", "n_days",
        F.col("a.lv").alias("level_final"),
        F.col("a.tr").alias("trend_final"),
        F.col("a.sae").alias("sum_abs_err"),
        F.expr("a.sae * 1000 div (n_days - 1)").alias("mae_ppk"),
    )


# ---------------------------------------------------------------------------
# Wilson score confidence interval (proportion CI without normal abuse)
# ---------------------------------------------------------------------------

@register(
    "wilson_ci_purchase_share",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY user_id
    )
    SELECT user_id, x, n,
           CAST(x * 1000000 // n AS BIGINT) AS p_ppm,
           CAST(floor((CAST(x AS DOUBLE) + 1.9208
                       - 1.96 * sqrt((CAST(x AS DOUBLE)
                                      * (n - x)) / n + 0.9604))
                      / (n + 3.8416) * 1000000) AS BIGINT) AS lo_ppm,
           CAST(floor((CAST(x AS DOUBLE) + 1.9208
                       + 1.96 * sqrt((CAST(x AS DOUBLE)
                                      * (n - x)) / n + 0.9604))
                      / (n + 3.8416) * 1000000) AS BIGINT) AS hi_ppm
    FROM s ORDER BY user_id
    """,
    doc="Wilson score 95% confidence interval for each user's purchase "
        "share of purchase+click events — the proportion CI that stays "
        "inside [0,1] and behaves at small n where the normal "
        "approximation collapses. Counts are exact integers; the "
        "interval endpoints run one identical IEEE double sequence "
        "(z=1.96 constants pre-folded: 1.9208 = z^2/2, 3.8416 = z^2, "
        "0.9604 = z^2/4) and floor to ppm. Scale: one "
        "map-side-combinable aggregate, scan-side math",
)
def q_wilson_ci_purchase_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    s = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
        F.count("*").alias("n"),
    )
    xd = F.col("x").cast("double")
    nd = F.col("n").cast("double")
    rad = F.sqrt(xd * (F.col("n") - F.col("x")) / nd + F.lit(0.9604))
    den = nd + F.lit(3.8416)
    return s.select(
        "user_id",
        F.col("x").cast("long").alias("x"),
        F.col("n").cast("long").alias("n"),
        F.expr("x * 1000000 div n").alias("p_ppm"),
        F.floor(
            (xd + F.lit(1.9208) - F.lit(1.96) * rad) / den
            * F.lit(1000000.0)
        ).cast("long").alias("lo_ppm"),
        F.floor(
            (xd + F.lit(1.9208) + F.lit(1.96) * rad) / den
            * F.lit(1000000.0)
        ).cast("long").alias("hi_ppm"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Lorenz curve / 80-20 concentration report
# ---------------------------------------------------------------------------

@register(
    "lorenz_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT x,
             ROW_NUMBER() OVER (ORDER BY x DESC, o_custkey) AS r,
             COUNT(*) OVER () AS n,
             SUM(x) OVER () AS tot
      FROM rev
    ), cum AS (
      SELECT r, n, tot,
             SUM(x) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cx
      FROM ranked
    ), deciles AS (SELECT unnest(range(1, 11)) AS dec)
    SELECT CAST(dec AS BIGINT) AS top_decile,
           CAST(MAX(cx) * 1000000 // MAX(tot) AS BIGINT)
             AS revenue_share_ppm,
           CAST(MAX(r) AS BIGINT) AS n_customers
    FROM cum JOIN deciles ON cum.r * 10 <= cum.n * dec
    GROUP BY dec ORDER BY dec
    """,
    doc="Lorenz concentration curve: for each top decile of customers "
        "(ranked by revenue), the exact ppm share of total revenue they "
        "contribute — the 80/20 report, and the curve whose area "
        "complement is the Gini coefficient (gini_revenue_by_nation "
        "gives the scalar; this gives the shape). Decile membership is "
        "the integer test r*10 <= n*dec (no float percent). Scale: "
        "per-customer pre-agg, one ranked cumulative window over "
        "customer rows, ten-row output",
)
def q_lorenz_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            cents_nonneg(F.col("o_totalprice"))
        ).alias("x")
    )
    # two-level rank/cumsum decomposition (same trick as mad_robust_scale):
    # global position r and cumulative revenue cx split into full-buckets-
    # before + in-bucket parts, so no window ever sorts the whole customer
    # table in one partition — buckets are tiny, in-bucket passes are
    # (bucket)-parallel
    b = rev.withColumn("bkt", F.expr("x div 100000"))
    bstat = b.groupBy("bkt").agg(
        F.count("*").alias("bc"), F.sum("x").alias("bx")
    )
    wb = bounded_window(F.desc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bcum = bstat.select(
        "bkt",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("r0"),
        F.coalesce(F.sum("bx").over(wb), F.lit(0)).alias("cx0"),
        F.sum("bc").over(bounded_window()).alias("n"),
        F.sum("bx").over(bounded_window()).alias("tot"),
    )
    wi = Window.partitionBy("bkt").orderBy(
        F.desc("x"), "o_custkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = b.join(F.broadcast(bcum), "bkt").select(
        (F.col("r0") + F.count("*").over(wi)).alias("r"),
        "n", "tot",
        (F.col("cx0") + F.sum("x").over(wi)).alias("cx"),
    )
    deciles = o.sparkSession.range(1, 11).select(
        F.col("id").cast("long").alias("dec")
    )
    return (
        cum.join(
            F.broadcast(deciles),
            F.col("r") * 10 <= F.col("n") * F.col("dec"),
        )
        .groupBy("dec")
        .agg(
            F.expr(
                "CAST(MAX(cx) * 1000000 div MAX(tot) AS BIGINT)"
            ).alias("revenue_share_ppm"),
            F.max("r").cast("long").alias("n_customers"),
        )
        .select(
            F.col("dec").alias("top_decile"),
            "revenue_share_ppm", "n_customers",
        )
        .orderBy("top_decile")
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (empirical Heaps' law, first-occurrence trick)
# ---------------------------------------------------------------------------

@register(
    "vocab_growth_curve",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), firsts AS (
      SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM tok
      GROUP BY tok
    ), docs_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    toks_per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY doc_id
    ), deciles AS (SELECT unnest(range(1, 11)) AS dec),
    cut AS (
      SELECT dec,
             CAST((SELECT nd FROM docs_n) * dec // 10 AS BIGINT) AS max_doc
      FROM deciles
    )
    SELECT CAST(c.dec AS BIGINT) AS decile,
           CAST((SELECT SUM(nt) FROM toks_per_doc t
                 WHERE t.doc_id <= c.max_doc) AS BIGINT) AS n_tokens,
           CAST((SELECT COUNT(*) FROM firsts f
                 WHERE f.first_doc <= c.max_doc) AS BIGINT) AS vocab_size
    FROM cut c
    ORDER BY decile
    """,
    doc="Empirical vocabulary growth curve (Heaps' law points): distinct "
        "vocabulary size after each decile of the corpus, computed WITHOUT "
        "re-scanning prefixes — a token's contribution to the curve is "
        "fully determined by its FIRST occurrence (min doc_id), so one "
        "groupBy(token) + a cumulative count over first-occurrence "
        "buckets replaces ten prefix distinct-counts. Sub-linear growth "
        "validates vocabulary-sized model tables (KN LM, NB classifier) "
        "at corpus scale. Scale: one token groupBy; everything after is "
        "decile-sized",
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    firsts = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    docs_n = docs.agg(F.count("*").alias("nd"))
    tpd = tok.groupBy("doc_id").agg(F.count("*").alias("nt"))
    deciles = docs.sparkSession.range(1, 11).select(
        F.col("id").cast("long").alias("dec")
    )
    cut = F.broadcast(deciles).crossJoin(F.broadcast(docs_n)).select(
        "dec", F.expr("nd * dec div 10").alias("max_doc")
    )
    toks_cum = (
        F.broadcast(cut)
        .join(tpd, tpd.doc_id <= F.col("max_doc"))
        .groupBy("dec")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    vocab_cum = (
        F.broadcast(cut)
        .join(firsts, firsts.first_doc <= F.col("max_doc"))
        .groupBy("dec")
        .agg(F.count("*").alias("vocab_size"))
    )
    return (
        toks_cum.join(vocab_cum, "dec")
        .select(
            F.col("dec").alias("decile"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Audience overlap matrix (pairwise Jaccard between behavior segments)
# ---------------------------------------------------------------------------

@register(
    "audience_overlap_matrix",
    oracle="""
    WITH m AS (
      SELECT user_id, event_type FROM events GROUP BY user_id, event_type
    ), pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM m a JOIN m b
        ON b.user_id = a.user_id AND b.event_type > a.event_type
      GROUP BY ta, tb
    ), sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM m GROUP BY event_type
    )
    SELECT p.ta, p.tb, p.n_both,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(p.n_both * 1000000 // (sa.n + sb.n - p.n_both) AS BIGINT)
             AS jaccard_ppm
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.ta
    JOIN sizes sb ON sb.event_type = p.tb
    ORDER BY ta, tb
    """,
    doc="Audience overlap matrix: exact Jaccard similarity (ppm) between "
        "every pair of behavior segments (users who did each event type) "
        "— the audience-planning staple behind campaign targeting and "
        "the companion view to segment_bitmask_counts (bitmasks give "
        "exact combination cells; this gives pairwise overlap "
        "normalized). Scale: segment membership distincts per (user, "
        "type), a user-keyed self-join bounded by types-per-user (<= 5), "
        "|types|-row size table broadcast",
)
def q_audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m = ev.select("user_id", "event_type").distinct()
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sizes = m.groupBy("event_type").agg(F.count("*").alias("n"))
    sa = sizes.select(
        F.col("event_type").alias("ta"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("tb"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .select(
            "ta", "tb", "n_both", "n_a", "n_b",
            F.expr(
                "n_both * 1000000 div (n_a + n_b - n_both)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("ta", "tb")
    )


# ---------------------------------------------------------------------------
# Peak load profile (capacity planning: minute-grain extremes)
# ---------------------------------------------------------------------------

@register(
    "events_peak_load",
    oracle="""
    WITH m AS (
      SELECT epoch_us(ts) // 60000000 AS minute,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY minute
    ), agg AS (
      SELECT n, COUNT(*) AS cnt FROM m GROUP BY n
    ), cum AS (
      SELECT n,
             SUM(cnt) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER () AS tot
      FROM agg
    )
    SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_active_minutes,
           CAST((SELECT MAX(n) FROM m) AS BIGINT) AS peak_epm,
           CAST(MIN(CASE WHEN 2 * cw >= tot THEN n END) AS BIGINT)
             AS p50_epm,
           CAST(MIN(CASE WHEN 100 * cw >= 99 * tot THEN n END) AS BIGINT)
             AS p99_epm
    FROM cum
    """,
    doc="Peak-load profile at minute grain: active minutes, the peak "
        "events-per-minute, and exact p50/p99 minute loads "
        "(percentile_disc crossing over the count-of-counts table) — the "
        "capacity-planning numbers behind provisioning and rate-limit "
        "settings; peak/p50 is the burstiness ratio. Scale: one "
        "map-side-combinable minute aggregate, then windows over "
        "count-distinct rows",
)
def q_events_peak_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        F.expr("(ts_nanos div 1000) div 60000000").alias("minute")
    ).agg(F.count("*").alias("n"))
    agg = m.groupBy("n").agg(F.count("*").alias("cnt"))
    wc = bounded_window("n").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.select(
        "n",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(bounded_window()).alias("tot"),
    )
    stats = m.agg(
        F.count("*").alias("n_active_minutes"),
        F.max("n").alias("peak_epm"),
    )
    q = cum.agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("tot"), F.col("n"))
        ).alias("p50_epm"),
        F.min(
            F.when(100 * F.col("cw") >= 99 * F.col("tot"), F.col("n"))
        ).alias("p99_epm"),
    )
    return stats.crossJoin(F.broadcast(q)).select(
        F.col("n_active_minutes").cast("long").alias("n_active_minutes"),
        F.col("peak_epm").cast("long").alias("peak_epm"),
        "p50_epm", "p99_epm",
    )


# ---------------------------------------------------------------------------
# Repeat-purchase interval (inter-purchase gap distribution)
# ---------------------------------------------------------------------------

@register(
    "repeat_purchase_interval",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events
      WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT (us - lag(us) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id)) // 3600000000
               AS gap_h
      FROM p
    ), g AS (SELECT gap_h FROM gaps WHERE gap_h IS NOT NULL),
    agg AS (SELECT gap_h, COUNT(*) AS cnt FROM g GROUP BY gap_h),
    cum AS (
      SELECT gap_h,
             SUM(cnt) OVER (ORDER BY gap_h ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER () AS n
      FROM agg
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN 4 * cw >= n     THEN gap_h END) AS BIGINT)
             AS q25_h,
           CAST(MIN(CASE WHEN 2 * cw >= n     THEN gap_h END) AS BIGINT)
             AS q50_h,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * n THEN gap_h END) AS BIGINT)
             AS q75_h
    FROM cum
    """,
    doc="Repeat-purchase interval distribution: exact quartiles (hours) of "
        "the gap between consecutive purchases within each user — the "
        "replenishment-cycle metric that sets reorder-reminder timing and "
        "the churn-definition window (a user is 'lapsed' past ~q75). One "
        "user-partitioned lag window + the value-distinct percentile_disc "
        "machinery. Scale: single user_id shuffle; quartile windows run "
        "over distinct gap values",
)
def q_repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts_nanos div 1000"), "event_id"
    )
    gaps = ev.select(
        (
            (
                F.expr("ts_nanos div 1000")
                - F.lag(F.expr("ts_nanos div 1000")).over(w)
            ) / 3600000000
        ).cast("long").alias("gap_h")
    ).filter(F.col("gap_h").isNotNull())
    agg = gaps.groupBy("gap_h").agg(F.count("*").alias("cnt"))
    wc = bounded_window("gap_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.select(
        "gap_h",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(bounded_window()).alias("n"),
    )
    cw, n = F.col("cw"), F.col("n")
    return cum.agg(
        F.min("n").cast("long").alias("n_gaps"),
        F.min(F.when(4 * cw >= n, F.col("gap_h"))).alias("q25_h"),
        F.min(F.when(2 * cw >= n, F.col("gap_h"))).alias("q50_h"),
        F.min(F.when(4 * cw >= 3 * n, F.col("gap_h"))).alias("q75_h"),
    )


# ---------------------------------------------------------------------------
# Warehouse digest: one-query census + content digests for every table
# ---------------------------------------------------------------------------

# canonical key-column serialization per table (stable, engine-portable)
_DIGEST_COLS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey", "p_brand", "p_size"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id", "event_type"],
    "documents": ["doc_id", "source", "lang"],
    "embeddings": ["vec_id", "label"],
}
_DIGEST_PRIME = 9007199254740993


def _warehouse_oracle() -> str:
    branches = []
    for t, cols in _DIGEST_COLS.items():
        ser = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        h = portable_hash60_sql(ser)
        branches.append(
            f"SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(SUM(CAST({h} AS HUGEINT)) % {_DIGEST_PRIME} AS BIGINT) "
            f"AS digest FROM {t}"
        )
    return " UNION ALL ".join(branches) + " ORDER BY tbl"


@register(
    "warehouse_digest",
    oracle=_warehouse_oracle(),
    doc="Whole-warehouse census in one query: row count plus an "
        "order-invariant 53-bit content digest (sum of portable row "
        "hashes mod a prime) for every table in the catalog — the "
        "replication / backfill / migration verification primitive "
        "generalized from table_content_digest to all ten tables, so two "
        "environments compare entire warehouses by exchanging ten rows. "
        "Scale: one scan + one map-side-combinable aggregate per table "
        "over its key columns only (ReadSchema prunes the rest); "
        "digests sum in decimal128 so any row count is safe",
)
def q_warehouse_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, cols in _DIGEST_COLS.items():
        df = _t(spark, sf_dir, t)
        ser = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        d = df.agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(portable_hash60(ser).cast("decimal(38,0)"))
                % F.lit(_DIGEST_PRIME).cast("decimal(38,0)")
            ).cast("long").alias("digest"),
        ).select(F.lit(t).alias("tbl"), "n_rows", "digest")
        out = d if out is None else out.unionByName(d)
    return out.orderBy("tbl")


# ---------------------------------------------------------------------------
# DAU / WAU / MAU engagement rollup with stickiness
# ---------------------------------------------------------------------------

@register(
    "engagement_rollup",
    oracle="""
    WITH d AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      FROM events
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM d GROUP BY day
    ), wau AS (
      SELECT day // 7 AS wk, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM d GROUP BY wk
    ), mau AS (
      SELECT day // 28 AS mo, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM d GROUP BY mo
    )
    SELECT CAST(dau.day AS BIGINT) AS day, dau.dau,
           wau.wau, mau.mau,
           CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
    FROM dau
    JOIN wau ON wau.wk = dau.day // 7
    JOIN mau ON mau.mo = dau.day // 28
    ORDER BY day
    """,
    doc="DAU/WAU/MAU engagement rollup: per day, the distinct active users "
        "at day, 7-day-block, and 28-day-block grain plus the DAU/MAU "
        "stickiness ratio in exact ppm — the growth-accounting dashboard "
        "row (fixed calendar blocks, not trailing windows, so every "
        "count is one exact distinct aggregate). Scale: the (day, user) "
        "distinct is one shuffle; block rollups re-aggregate the "
        "already-distinct pairs; block tables broadcast back",
)
def q_engagement_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.expr("(ts_nanos div 1000) div 86400000000").alias("day"),
        "user_id",
    ).distinct()
    dau = d.groupBy("day").agg(F.count("*").alias("dau"))
    wau = d.groupBy(F.expr("day div 7").alias("wk")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    mau = d.groupBy(F.expr("day div 28").alias("mo")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(F.broadcast(wau), F.expr("day div 7") == F.col("wk"))
        .join(F.broadcast(mau), F.expr("day div 28") == F.col("mo"))
        .select(
            F.col("day").cast("long").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.col("mau").cast("long").alias("mau"),
            F.expr("dau * 1000000 div mau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Power-user curve (distribution of active days per user)
# ---------------------------------------------------------------------------

@register(
    "power_user_curve",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ), per AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days
      FROM d GROUP BY user_id
    )
    SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per GROUP BY active_days
    ORDER BY active_days
    """,
    doc="Power-user curve: the distribution of active days per user over "
        "the observation window — the engagement-depth histogram (the "
        "'L28 curve' shape) whose right mass identifies power users and "
        "whose left spike flags drive-by traffic. Two exact distinct "
        "aggregates. Scale: (user, day) distinct is one shuffle; the "
        "histogram reduces one row per user",
)
def q_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.expr("(ts_nanos div 1000) div 86400000000").alias("day"),
    ).distinct()
    per = d.groupBy("user_id").agg(F.count("*").alias("active_days"))
    return (
        per.groupBy("active_days")
        .agg(F.count("*").alias("n_users"))
        .orderBy("active_days")
    )


# ---------------------------------------------------------------------------
# New vs returning actives per day (growth decomposition)
# ---------------------------------------------------------------------------

@register(
    "new_vs_returning_daily",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ), f AS (
      SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id
    )
    SELECT CAST(d.day AS BIGINT) AS day,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM d JOIN f USING (user_id)
    GROUP BY d.day ORDER BY day
    """,
    doc="New-vs-returning decomposition of daily actives: each (user, day) "
        "pair classifies against the user's first active day, splitting "
        "DAU into acquisition and retention components — the first "
        "question growth accounting asks of any engagement change. "
        "Scale: (user, day) distinct + a user-keyed first-day aggregate "
        "joined back on the same key (one partitioning reused)",
)
def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.expr("(ts_nanos div 1000) div 86400000000").alias("day"),
    ).distinct()
    f = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        d.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).cast("long").alias("new_users"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).cast("long").alias("returning_users"),
        )
        .select(
            F.col("day").cast("long").alias("day"),
            "new_users", "returning_users",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Session duration quartiles (30-min-gap sessions)
# ---------------------------------------------------------------------------

@register(
    "session_duration_quartiles",
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM events
    ), sid AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), dur AS (
      SELECT (MAX(us) - MIN(us)) // 1000000 AS dur_s
      FROM sid GROUP BY user_id, sid
    ), agg AS (SELECT dur_s, COUNT(*) AS cnt FROM dur GROUP BY dur_s),
    cum AS (
      SELECT dur_s,
             SUM(cnt) OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER () AS n
      FROM agg
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_sessions,
           CAST(MIN(CASE WHEN 4 * cw >= n     THEN dur_s END) AS BIGINT)
             AS q25_s,
           CAST(MIN(CASE WHEN 2 * cw >= n     THEN dur_s END) AS BIGINT)
             AS q50_s,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * n THEN dur_s END) AS BIGINT)
             AS q75_s
    FROM cum
    """,
    doc="Session duration quartiles (30-min-gap sessionization, first to "
        "last event per session, exact percentile_disc in seconds) — the "
        "engagement-quality metric on top of the sessionize machinery "
        "the engine already pins for streaming. Durations are bounded by "
        "the clock range so the quartile pass is value-distinct small. "
        "Scale: one user_id shuffle for sessionization; quartiles over "
        "distinct durations",
)
def q_session_duration_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts_nanos div 1000")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = ev.select(
        "user_id", us.alias("us"), "event_id"
    ).withColumn(
        "brk",
        F.when(
            F.col("us") - F.lag("us").over(wo) > 1800000000, 1
        ).otherwise(0),
    )
    sid = s.withColumn(
        "sid",
        F.sum("brk").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    dur = sid.groupBy("user_id", "sid").agg(
        F.expr("(max(us) - min(us)) div 1000000").alias("dur_s")
    )
    agg = dur.groupBy("dur_s").agg(F.count("*").alias("cnt"))
    wc = bounded_window("dur_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.select(
        "dur_s",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(bounded_window()).alias("n"),
    )
    cw, n = F.col("cw"), F.col("n")
    return cum.agg(
        F.min("n").cast("long").alias("n_sessions"),
        F.min(F.when(4 * cw >= n, F.col("dur_s"))).alias("q25_s"),
        F.min(F.when(2 * cw >= n, F.col("dur_s"))).alias("q50_s"),
        F.min(F.when(4 * cw >= 3 * n, F.col("dur_s"))).alias("q75_s"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (syndication / provenance audit)
# ---------------------------------------------------------------------------

@register(
    "cross_source_duplication",
    oracle="""
    WITH d AS (
      SELECT DISTINCT source,
             CAST('0x' || substr(md5(lower(trim(text))), 1, 15) AS BIGINT)
               AS fp
      FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM d a JOIN d b ON b.fp = a.fp AND b.source > a.source
    GROUP BY src_a, src_b
    ORDER BY n_shared DESC, src_a, src_b
    """,
    doc="Cross-source duplication matrix: for every source pair, the "
        "number of normalized-text fingerprints BOTH carry — the "
        "syndication/provenance audit that tells which sources mirror "
        "each other (within-source dups are the datacard's dup_rate; "
        "this is the between-source picture that decides dedup ordering "
        "and source weights). Scale: per-source fingerprint distinct, "
        "one fp-keyed self-join whose fan-out is bounded by sources-per-"
        "fingerprint (<= |sources|)",
)
def q_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        portable_hash60(F.lower(F.trim(F.col("text")))).alias("fp"),
    ).distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("b.fp") == F.col("a.fp"))
            & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .orderBy(F.desc("n_shared"), "src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Order fulfillment latency (order date -> first shipment, exact quartiles)
# ---------------------------------------------------------------------------

@register(
    "fulfillment_latency_quartiles",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, MIN(l_shipdate) AS ship0 FROM lineitem
      GROUP BY l_orderkey
    ), lat AS (
      SELECT CAST((epoch_us(f.ship0) - epoch_us(o.o_orderdate))
                  // 86400000000 AS BIGINT) AS lat_d,
             o.o_orderpriority
      FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
    ), agg AS (
      SELECT o_orderpriority, lat_d, COUNT(*) AS cnt
      FROM lat GROUP BY o_orderpriority, lat_d
    ), cum AS (
      SELECT o_orderpriority, lat_d,
             SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY lat_d
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
      FROM agg
    )
    SELECT o_orderpriority,
           CAST(MIN(n) AS BIGINT) AS n_orders,
           CAST(MIN(CASE WHEN 2 * cw >= n     THEN lat_d END) AS BIGINT)
             AS q50_d,
           CAST(MIN(CASE WHEN 100 * cw >= 95 * n THEN lat_d END) AS BIGINT)
             AS p95_d
    FROM cum GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Order fulfillment latency: days from order date to FIRST line "
        "shipment, exact median and p95 per order priority — the SLA "
        "report that checks whether priority classes actually ship "
        "faster. Latency days are calendar-bounded so the quartile pass "
        "is value-distinct tiny (no bucket decomposition needed). "
        "Scale: per-order first-ship aggregate + one orderkey join, "
        "then priority-partitioned crossing windows",
)
def q_fulfillment_latency_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship0")
    )
    # l_shipdate reads as TIMESTAMP_NTZ; load_table pins the session to
    # UTC, so the NTZ->TZ cast is wall-clock-stable before unix_micros
    lat = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority",
        F.expr(
            "(unix_micros(cast(ship0 as timestamp))"
            " - unix_micros(cast(o_orderdate as timestamp)))"
            " div 86400000000"
        ).alias("lat_d"),
    )
    agg = lat.groupBy("o_orderpriority", "lat_d").agg(
        F.count("*").alias("cnt")
    )
    wc = (
        Window.partitionBy("o_orderpriority").orderBy("lat_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = agg.select(
        "o_orderpriority", "lat_d",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(
            Window.partitionBy("o_orderpriority")
        ).alias("n"),
    )
    cw, n = F.col("cw"), F.col("n")
    return (
        cum.groupBy("o_orderpriority")
        .agg(
            F.min("n").cast("long").alias("n_orders"),
            F.min(F.when(2 * cw >= n, F.col("lat_d"))).alias("q50_d"),
            F.min(
                F.when(100 * cw >= 95 * n, F.col("lat_d"))
            ).alias("p95_d"),
        )
        .orderBy("o_orderpriority")
    )
