"""Round-5 surface widening.

Opens with the fixed-point GAN-inference twin the round-4 verdict asked
for: the SAME distributed inference machinery as ``gan_grid_inference``
(R3 latent grid -> K10 ``kernels.apply_network`` mapInArrow forward ->
W3 row-major ordering; reference dl4jGANComputerVision.java:550-570) run
over a literal-weight integer network, so the GAN serving path earns a
hash-grade DuckDB oracle the way ``pq_fixed_topk`` did for ANN.

Exactness argument (same discipline as the PQ twins): latents quantize
to int64 via floor(z * 2^6) — a power-of-two scale on the identical IEEE
double is engine-invariant — and every weight is a small integer, so the
float32 kernel arithmetic is EXACT (every intermediate is an integer
< 2^24, and float add/mul on such integers is lossless in any
accumulation order).  The oracle replays the identical forward pass in
pure BIGINT math from the same literals.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.dates import epoch_day
from .functions.windows import bounded_window
from .registry import _t, register

# ---------------------------------------------------------------------------
# Fixed-weight generator: 2 -> dense(8, relu) -> dense(2, linear)
# ---------------------------------------------------------------------------

_GRID_SIDE = 10
_Z_SCALE = 64          # Q6 latent quantization: floor(z * 64)
_N_HIDDEN = 8
_N_OUT = 2


def _gan_fixed_ints() -> tuple[list, list, list, list]:
    """Deterministic small-integer weights (pure python ints — the single
    source of truth for BOTH the numpy kernel weights and the SQL oracle
    literals)."""
    w1 = [[((3 * i + 5 * j + 1) % 15) - 7 for j in range(_N_HIDDEN)]
          for i in range(2)]
    b1 = [(j % 5) - 2 for j in range(_N_HIDDEN)]
    w2 = [[((7 * j + 11 * k + 3) % 15) - 7 for k in range(_N_OUT)]
          for j in range(_N_HIDDEN)]
    b2 = [10 * k + 1 for k in range(_N_OUT)]
    return w1, b1, w2, b2


def _gan_fixed_oracle() -> str:
    w1, b1, w2, b2 = _gan_fixed_ints()
    s = _GRID_SIDE
    step = f"(2.0/{s - 1}.0)"
    hidden = ", ".join(
        f"GREATEST(0, ({w1[0][j]})*ziq + ({w1[1][j]})*zjq + ({b1[j]})) AS h{j}"
        for j in range(_N_HIDDEN)
    )
    outs = ", ".join(
        "CAST("
        + " + ".join(f"({w2[j][k]})*h{j}" for j in range(_N_HIDDEN))
        + f" + ({b2[k]}) AS BIGINT) AS px{k}_q"
        for k in range(_N_OUT)
    )
    return f"""
WITH g AS (
  SELECT grid_id,
         CAST(floor((-1.0 + (grid_id // {s}) * {step}) * {_Z_SCALE})
              AS BIGINT) AS ziq,
         CAST(floor((-1.0 + (grid_id % {s}) * {step}) * {_Z_SCALE})
              AS BIGINT) AS zjq
  FROM range({s * s}) AS t(grid_id)
), h AS (
  SELECT grid_id, {hidden} FROM g
)
SELECT grid_id, {outs} FROM h ORDER BY grid_id
"""


@register(
    "gan_grid_inference_fixed",
    oracle=_gan_fixed_oracle(),
    doc="Hash-grade twin of gan_grid_inference (K10+R3+W3, "
        "dl4jGANComputerVision.java:550-570): the REAL distributed "
        "inference path — latent_grid (R3 row-major) -> "
        "kernels.apply_network mapInArrow forward (K10) — over a "
        "literal-weight integer generator (2 -> dense-8 relu -> dense-2 "
        "linear). Latents quantize via floor(z*2^6) (power-of-two scale "
        "on the identical IEEE double: engine-invariant); with small-"
        "integer weights every float32 intermediate is an integer < 2^24 "
        "so the kernel arithmetic is exact, and the DuckDB oracle replays "
        "the identical forward pass in pure BIGINT math from the same "
        "literals — the pq_fixed_topk evidence pattern applied to the GAN "
        "serving path",
)
def q_gan_grid_inference_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.random import latent_grid
    from .kernels import LayerSpec, apply_network

    w1, b1, w2, b2 = _gan_fixed_ints()
    weights = {
        "g1": {"W": np.array(w1, dtype=np.float32),
               "b": np.array(b1, dtype=np.float32)},
        "g2": {"W": np.array(w2, dtype=np.float32),
               "b": np.array(b2, dtype=np.float32)},
    }
    specs = [
        LayerSpec("g1", "dense", {"units": _N_HIDDEN, "activation": "relu"}),
        LayerSpec("g2", "dense", {"units": _N_OUT, "activation": "linear"}),
    ]
    grid = latent_grid(spark, _GRID_SIDE).select(
        "grid_id",
        F.array(
            F.floor(F.col("zi") * _Z_SCALE).cast("float"),
            F.floor(F.col("zj") * _Z_SCALE).cast("float"),
        ).alias("features"),
    )
    out = apply_network(grid, specs, weights, keep_cols=["grid_id"])
    return out.select(
        "grid_id",
        F.element_at("output", 1).cast("long").alias("px0_q"),
        F.element_at("output", 2).cast("long").alias("px1_q"),
    ).orderBy("grid_id")


# ---------------------------------------------------------------------------
# Robust statistics: Spearman rank correlation (fixed-point exact)
# ---------------------------------------------------------------------------

@register(
    "spearman_corr_by_lang",
    oracle="""
    WITH tok AS (
      SELECT lang, n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), ranked AS (
      SELECT lang,
             2 * RANK()  OVER (PARTITION BY lang ORDER BY n_chars)
               + COUNT(*) OVER (PARTITION BY lang, n_chars) - 1 AS rx,
             2 * RANK()  OVER (PARTITION BY lang ORDER BY n_tok)
               + COUNT(*) OVER (PARTITION BY lang, n_tok) - 1 AS ry
      FROM tok
    ), s AS (
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
             CAST(SUM(rx * ry) AS BIGINT) AS sxy,
             CAST(SUM(rx * rx) AS BIGINT) AS sxx,
             CAST(SUM(ry * ry) AS BIGINT) AS syy
      FROM ranked GROUP BY lang
    )
    SELECT lang, n,
           CAST(floor(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000
           ) AS BIGINT) AS rho_ppm
    FROM s
    ORDER BY lang
    """,
    doc="Spearman rank correlation between doc length in chars and in "
        "tokens, per language — the robust (monotone, outlier-immune) "
        "association screen a curation pipeline runs before trusting "
        "linear stats. Ties get average ranks kept INTEGER by doubling "
        "(2*rank + ties - 1), so every sum is exact; the final rho is one "
        "identical IEEE double expression in both engines (sqrt is "
        "correctly rounded, unlike transcendentals), floored to ppm. "
        "Scale: ranks are two windows over the same lang partitioning — "
        "one shuffle; sums are map-side-combinable; n*sxy-type products "
        "promote to DECIMAL at fact scale (documented in SCALE.md's "
        "percentile-family row)",
)
def q_spearman_corr_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "lang", "n_chars", F.size(F.split("text", " ")).alias("n_tok")
    )
    wx = Window.partitionBy("lang").orderBy("n_chars")
    wxt = Window.partitionBy("lang", "n_chars")
    wy = Window.partitionBy("lang").orderBy("n_tok")
    wyt = Window.partitionBy("lang", "n_tok")
    ranked = docs.select(
        "lang",
        (2 * F.rank().over(wx) + F.count("*").over(wxt) - 1).alias("rx"),
        (2 * F.rank().over(wy) + F.count("*").over(wyt) - 1).alias("ry"),
    )
    s = ranked.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    return s.select(
        "lang", "n",
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            )
            * 1000000
        ).cast("long").alias("rho_ppm"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Welch's t-test between two sources (fixed-point exact)
# ---------------------------------------------------------------------------

@register(
    "welch_t_sources",
    oracle="""
    WITH s AS (
      SELECT source, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
      FROM documents WHERE source IN ('src0', 'src1') GROUP BY source
    ), p AS (
      SELECT
        MAX(CASE WHEN source = 'src0' THEN n END) AS n1,
        MAX(CASE WHEN source = 'src0' THEN sx END) AS sx1,
        MAX(CASE WHEN source = 'src0' THEN sxx END) AS sxx1,
        MAX(CASE WHEN source = 'src1' THEN n END) AS n2,
        MAX(CASE WHEN source = 'src1' THEN sx END) AS sx2,
        MAX(CASE WHEN source = 'src1' THEN sxx END) AS sxx2
      FROM s
    )
    SELECT n1, n2,
           CAST(floor(
             (CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
             / sqrt(
                 (CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)))
               + (CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)))
             ) * 1000000
           ) AS BIGINT) AS t_ppm
    FROM p
    """,
    doc="Welch's unequal-variance t statistic comparing doc length "
        "between two sources — the drift gate a data pipeline runs when "
        "a loader changes. Built entirely from exact integer sums "
        "(n, sum, sum-of-squares per group); the t value is one identical "
        "IEEE double expression (divisions + one sqrt, no "
        "transcendentals) floored to ppm in both engines. Scale: one "
        "map-side-combinable aggregate over the filtered scan, then a "
        "2-row pivot — zero fact shuffles",
)
def q_welch_t_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    s = docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    p = s.agg(
        F.max(F.when(F.col("source") == "src0", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("source") == "src0", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("source") == "src0", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("source") == "src1", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("source") == "src1", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("source") == "src1", F.col("sxx"))).alias("sxx2"),
    )
    var1 = (
        (F.col("n1") * F.col("sxx1") - F.col("sx1") * F.col("sx1")).cast("double")
        / (F.col("n1").cast("double") * F.col("n1") * (F.col("n1") - 1))
    )
    var2 = (
        (F.col("n2") * F.col("sxx2") - F.col("sx2") * F.col("sx2")).cast("double")
        / (F.col("n2").cast("double") * F.col("n2") * (F.col("n2") - 1))
    )
    return p.select(
        "n1", "n2",
        F.floor(
            (
                F.col("sx1").cast("double") / F.col("n1")
                - F.col("sx2").cast("double") / F.col("n2")
            )
            / F.sqrt(var1 + var2)
            * 1000000
        ).cast("long").alias("t_ppm"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth per source
# ---------------------------------------------------------------------------

@register(
    "heaps_vocab_growth",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    )
    SELECT source,
           COUNT(*) AS total_tokens,
           COUNT(DISTINCT w) AS vocab,
           COUNT(DISTINCT CASE WHEN doc_id % 2 = 0 THEN w END) AS vocab_half
    FROM tok
    GROUP BY source
    ORDER BY source
    """,
    doc="Heaps'-law vocabulary growth audit per source: total tokens, "
        "distinct vocabulary, and the vocabulary of the doc_id-even half "
        "— the (half, full) pair estimates the Heaps exponent without an "
        "ordered cumulative pass (vocab ratio ~ 2^beta), which is the "
        "quantity that sizes BPE/type tables at corpus scale. Scale: "
        "explode is scan-side; the distinct-count aggregate is Spark's "
        "two-phase partial-distinct expansion — shuffle carries (source, "
        "word) pairs already deduped map-side, never an ordered pass",
)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    return (
        tok.groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.countDistinct("w").alias("vocab"),
            F.countDistinct(
                F.when(F.col("doc_id") % 2 == 0, F.col("w"))
            ).alias("vocab_half"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency audit
# ---------------------------------------------------------------------------

@register(
    "zipf_rank_freq_top20",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, COUNT(*) AS f FROM tok GROUP BY w
    ), ranked AS (
      SELECT w, f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r FROM freq
    )
    SELECT r, w, f, r * f AS rf
    FROM ranked WHERE r <= 20 ORDER BY r
    """,
    doc="Zipf rank-frequency audit: top-20 corpus tokens with rank x "
        "frequency — constant rf is the Zipf signature, and the deviation "
        "pattern is the screen for templated/boilerplate corpora (token "
        "distribution audits are the cheap tripwire before expensive "
        "dedup). Integer products only, deterministic (freq desc, token "
        "asc) ranking. Scale: one token-count shuffle (map-side "
        "combinable), then TakeOrderedAndProject over |vocab| rows — "
        "never a global sort of the corpus",
)
def q_zipf_rank_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    freq = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    # TakeOrderedAndProject to 20 rows FIRST, then rank inside the tiny
    # result — a bare global-order row_number would funnel |vocab| rows
    # through one window partition
    top = freq.orderBy(F.desc("f"), "w").limit(20)
    w = bounded_window(F.desc("f"), "w")
    return (
        top.select(
            "w", "f", F.row_number().over(w).cast("long").alias("r")
        )
        .select("r", "w", "f", (F.col("r") * F.col("f")).alias("rf"))
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# Deterministic MODE per group
# ---------------------------------------------------------------------------

@register(
    "mode_event_type_per_bucket",
    oracle="""
    WITH c AS (
      SELECT user_id % 16 AS bucket, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id % 16, event_type
    ), r AS (
      SELECT bucket, event_type, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY bucket ORDER BY cnt DESC, event_type
             ) AS rn
      FROM c
    )
    SELECT bucket, event_type AS modal_type, cnt
    FROM r WHERE rn = 1 ORDER BY bucket
    """,
    doc="Deterministic MODE() per user bucket: the most frequent event "
        "type with (count desc, value asc) tie-break — the categorical "
        "summary stat SQL's mode() leaves engine-defined on ties, pinned "
        "to a total order here so it is reproducible and cross-engine "
        "comparable. Scale: count groupBy is map-side combinable; the "
        "window runs over |buckets x types| pre-aggregated rows (tiny), "
        "with the literal rn=1 bound eligible for WindowGroupLimit",
)
def q_mode_event_type_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 16).alias("bucket"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("cnt"), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("bucket", F.col("event_type").alias("modal_type"), "cnt")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality gate
# ---------------------------------------------------------------------------

@register(
    "gopher_rule_audit",
    oracle="""
    WITH m AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tok,
             length(replace(text, ' ', '')) AS alpha_chars,
             len(list_filter(string_split(text, ' '),
                             x -> x IN ('the', 'a'))) AS stop_hits
      FROM documents
    ), rules AS (
      SELECT source,
             CASE WHEN n_tok BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN 100 * alpha_chars >= 300 * n_tok
                   AND 100 * alpha_chars <= 1000 * n_tok THEN 1 ELSE 0
             END AS r_wordlen,
             CASE WHEN 100 * stop_hits >= 2 * n_tok THEN 1 ELSE 0
             END AS r_stop
      FROM m
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(r_len) AS BIGINT) AS pass_len,
           CAST(SUM(r_wordlen) AS BIGINT) AS pass_wordlen,
           CAST(SUM(r_stop) AS BIGINT) AS pass_stop,
           CAST(SUM(r_len * r_wordlen * r_stop) AS BIGINT) AS keep
    FROM rules GROUP BY source ORDER BY source
    """,
    doc="Gopher/MassiveText-style rule gate audited per source: token-"
        "count bounds, mean-word-length band (3..10 chars, cross-"
        "multiplied to integers — never a float division), and minimum "
        "stopword fraction, plus the conjunctive keep count — the "
        "standard pre-dedup quality filter, reported as a per-rule "
        "funnel so a threshold change is attributable to one rule. "
        "Scale: pure scan-side codegen expressions, one tiny aggregate, "
        "zero shuffles of the corpus",
)
def q_gopher_rule_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    m = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(toks).alias("n_tok"),
        F.length(F.regexp_replace("text", " ", "")).alias("alpha_chars"),
        F.size(
            F.filter(toks, lambda x: x.isin("the", "a"))
        ).alias("stop_hits"),
    )
    rules = m.select(
        "source",
        F.when(F.col("n_tok").between(20, 100000), 1).otherwise(0).alias("r_len"),
        F.when(
            (100 * F.col("alpha_chars") >= 300 * F.col("n_tok"))
            & (100 * F.col("alpha_chars") <= 1000 * F.col("n_tok")),
            1,
        ).otherwise(0).alias("r_wordlen"),
        F.when(100 * F.col("stop_hits") >= 2 * F.col("n_tok"), 1)
        .otherwise(0).alias("r_stop"),
    )
    return (
        rules.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("r_len").alias("pass_len"),
            F.sum("r_wordlen").alias("pass_wordlen"),
            F.sum("r_stop").alias("pass_stop"),
            F.sum(
                F.col("r_len") * F.col("r_wordlen") * F.col("r_stop")
            ).alias("keep"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Interval join: events within 7 days after an order
# ---------------------------------------------------------------------------

@register(
    "order_event_window_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM orders o
    JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts <  o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-02-01'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="Interval (range) join: events landing in the 7-day window after "
        "each January-1996 order of the same user — the attribution shape "
        "(action within N days of trigger). The equality key "
        "(user=custkey) makes it a hash join with range residuals, NOT a "
        "cartesian range join; the month filter is pushed to the orders "
        "scan. Per-row cents before SUM keeps the money sum order-free. "
        "Scale: one shuffle per side on the user key; AQE handles the "
        "skewed power users; a time-bucketed band join is the escape "
        "hatch if the key were absent (SCALE.md)",
)
def q_order_event_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey", "o_orderpriority",
            F.col("o_orderdate").cast("timestamp").alias("odate"),
        )
        .filter(
            (F.col("odate") >= "1996-01-01") & (F.col("odate") < "1996-02-01")
        )
    )
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    j = ev.join(
        orders,
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("ts") >= F.col("odate"))
        & (F.col("ts") < F.col("odate") + F.expr("INTERVAL 7 DAYS")),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("vc").alias("value_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope over the daily revenue series
# ---------------------------------------------------------------------------

def _daily_cents_1996_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, cents): exact order revenue per epoch day over
    [1996-01-01, 1996-03-01), the trend tests' daily series."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("timestamp").alias("odate"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(
        (F.col("odate") >= "1996-01-01") & (F.col("odate") < "1996-03-01")
    )
    return orders.groupBy(epoch_day("odate").alias("day")).agg(
        F.sum("cents").alias("cents")
    )


@register(
    "theil_sen_slope_daily",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-03-01'
      GROUP BY day
    ), pairs AS (
      SELECT (b.cents - a.cents) * 1000 // (b.day - a.day) AS slope_mc
      FROM d a JOIN d b ON b.day > a.day
    ), ranked AS (
      SELECT slope_mc, ROW_NUMBER() OVER (ORDER BY slope_mc) AS rn,
             COUNT(*) OVER () AS n
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(slope_mc AS BIGINT) AS median_slope_mc
    FROM ranked WHERE rn = (n + 1) // 2
    """,
    doc="Theil-Sen estimator: the median of all pairwise slopes of the "
        "daily-revenue series (Jan-Feb 1996) — the robust trend line that "
        "shrugs off the outlier days OLS chases (ols_trend_daily is the "
        "fragile twin). Slopes are integer milli-cents/day via truncating "
        "division (Spark div == DuckDB // on signed ints); lower-median "
        "picked by deterministic rank. Scale: the O(n^2) pair join runs "
        "over the PRE-AGGREGATED day table (60 rows -> 1.7k pairs), never "
        "the fact table — the fact scan is one map-side-combinable "
        "aggregate with the date filter pushed down",
)
def q_theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents_1996_q1(spark, sf_dir)
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(b, F.col("b.day") > F.col("a.day")).select(
        F.expr("(b.cents - a.cents) * 1000 div (b.day - a.day)").alias(
            "slope_mc"
        )
    )
    w = bounded_window("slope_mc")
    ranked = pairs.select(
        "slope_mc",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(bounded_window()).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        F.col("n").alias("n_pairs"),
        F.col("slope_mc").alias("median_slope_mc"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (exact integer S and tie-corrected variance)
# ---------------------------------------------------------------------------

@register(
    "mann_kendall_trend",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-03-01'
      GROUP BY day
    ), s AS (
      SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM d a JOIN d b ON b.day > a.day
    ), ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT COUNT(*) AS t FROM d GROUP BY cents HAVING COUNT(*) > 1)
    ), n AS (
      SELECT COUNT(*) AS n FROM d
    )
    SELECT n.n AS n_days, s.s_stat,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS BIGINT)
             AS var18
    FROM s, ties, n
    """,
    doc="Mann-Kendall monotone-trend test on the daily-revenue series: "
        "S = sum of pairwise sign comparisons, plus the tie-corrected "
        "variance numerator (x18, kept integer — var = var18/18) — the "
        "nonparametric complement to theil_sen_slope_daily, all exact "
        "integer math so the oracle hash-matches with no float surface "
        "at all. Scale: pair comparisons run on the pre-aggregated day "
        "table; the fact scan aggregates once with the date filter "
        "pushed down",
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents_1996_q1(spark, sf_dir).localCheckpoint()
    a, b = d.alias("a"), d.alias("b")
    s = a.join(b, F.col("b.day") > F.col("a.day")).agg(
        F.sum(
            F.when(F.col("b.cents") > F.col("a.cents"), 1)
            .when(F.col("b.cents") < F.col("a.cents"), -1)
            .otherwise(0)
        ).alias("s_stat")
    )
    ties = (
        d.groupBy("cents")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    n = d.agg(F.count("*").alias("n"))
    return (
        s.crossJoin(ties)
        .crossJoin(n)
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).alias("var18"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog with an EXACT oracle (integer registers, no transcendentals)
# ---------------------------------------------------------------------------

@register(
    "hll_registers_exact",
    oracle="""
    WITH h AS (
      SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM events
    ), reg AS (
      SELECT hv % 1024 AS bucket,
             MAX(CASE WHEN hv // 1024 = 0 THEN 51
                      ELSE 51 - length(bin(hv // 1024)) END) AS rho
      FROM h GROUP BY hv % 1024
    ), agg AS (
      SELECT COUNT(*) AS n_hit,
             CAST(SUM(1::BIGINT << (51 - rho)) AS BIGINT) AS denom_hit
      FROM reg
    )
    SELECT n_hit,
           CAST(denom_hit + (1024 - n_hit) * (1::BIGINT << 51) AS BIGINT)
             AS denom_scaled,
           CAST(floor(
             (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
             * CAST(1::BIGINT << 51 AS DOUBLE)
             / CAST(denom_hit + (1024 - n_hit) * (1::BIGINT << 51) AS DOUBLE)
           ) AS BIGINT) AS est_events
    FROM agg
    """,
    doc="HyperLogLog distinct-event-id estimate with a hash-grade oracle — "
        "the fixed-point-twin trick applied to sketches: buckets and "
        "leading-zero ranks are pure integer bit math on the md5-derived "
        "60-bit hash (bucket = h mod 1024, rho = 51 - bitlength(h div "
        "1024), bit length via the binary-string digits — no log2), the "
        "harmonic denominator is an exact integer sum of 2^(51-rho), and "
        "the final estimate is one identical IEEE double expression "
        "(alpha_m * m^2 * 2^51 / denom, divisions only). Deliberately "
        "omits the small-range linear-counting correction (it needs ln); "
        "hll_mergeable_daily_users remains the production sketch, this "
        "twin is its correctness evidence. Scale: one 1024-key groupBy "
        "with map-side max combine — sketch-sized state regardless of "
        "corpus",
)
def q_hll_registers_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    h = _t(spark, sf_dir, "events").select(
        portable_hash60(F.col("event_id").cast("string")).alias("hv")
    )
    reg = (
        h.select(
            F.pmod("hv", F.lit(1024)).alias("bucket"),
            F.expr(
                "CASE WHEN hv div 1024 = 0 THEN 51 "
                "ELSE 51 - length(conv(hv div 1024, 10, 2)) END"
            ).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    agg = reg.agg(
        F.count("*").alias("n_hit"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 51 - rho)")).alias(
            "denom_hit"
        ),
    )
    denom = F.col("denom_hit") + (1024 - F.col("n_hit")) * F.expr(
        "shiftleft(CAST(1 AS BIGINT), 51)"
    )
    return agg.select(
        "n_hit",
        denom.alias("denom_scaled"),
        F.floor(
            F.lit(0.7213)
            / (F.lit(1.0) + F.lit(1.079) / F.lit(1024.0))
            * 1024.0
            * 1024.0
            * F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 51) AS DOUBLE)")
            / denom.cast("double")
        ).cast("long").alias("est_events"),
    )


# ---------------------------------------------------------------------------
# Multi-feature OLS via exact-integer Cramer determinants
# ---------------------------------------------------------------------------

@register(
    "ols_multi_cramer",
    oracle="""
    WITH f AS (
      SELECT hour(ts) AS h,
             (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
               AS d,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(h) AS BIGINT) AS sh, CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(h * h) AS BIGINT) AS shh,
             CAST(SUM(h * d) AS BIGINT) AS shd,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(h * y) AS BIGINT) AS shy,
             CAST(SUM(d * y) AS BIGINT) AS sdy
      FROM f
    ), m AS (
      SELECT n,
             CAST(n AS DOUBLE) AS a11, CAST(sh AS DOUBLE) AS a12,
             CAST(sd AS DOUBLE) AS a13, CAST(shh AS DOUBLE) AS a22,
             CAST(shd AS DOUBLE) AS a23, CAST(sdd AS DOUBLE) AS a33,
             CAST(sy AS DOUBLE) AS b1, CAST(shy AS DOUBLE) AS b2,
             CAST(sdy AS DOUBLE) AS b3
      FROM s
    )
    SELECT n,
           CAST(floor((b1*(a22*a33-a23*a23) - a12*(b2*a33-a23*b3)
                       + a13*(b2*a23-a22*b3))
             / (a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
                + a13*(a12*a23-a22*a13)) * 1000000) AS BIGINT)
             AS b0_ppm,
           CAST(floor((a11*(b2*a33-a23*b3) - b1*(a12*a33-a23*a13)
                       + a13*(a12*b3-b2*a13))
             / (a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
                + a13*(a12*a23-a22*a13)) * 1000000) AS BIGINT)
             AS b_hour_ppm,
           CAST(floor((a11*(a22*b3-b2*a23) - a12*(a12*b3-b2*a13)
                       + b1*(a12*a23-a22*a13))
             / (a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13)
                + a13*(a12*a23-a22*a13)) * 1000000) AS BIGINT)
             AS b_dow_ppm
    FROM m
    """,
    doc="Multiple linear regression (purchase value ~ hour-of-day + "
        "day-of-week) solved in closed form by Cramer's rule on the "
        "3x3 normal equations — the multi-feature upgrade of "
        "ols_trend_daily, no iterative solver. Moment sums are exact "
        "integers (day-of-week from integer epoch-day math, not the "
        "engines' 0-vs-1-based dayofweek); determinants expand in DOUBLE "
        "with one identical expression tree per engine (int->double and "
        "double mul/add are correctly rounded IEEE ops, so both engines "
        "round identically — only transcendentals are banned). Scale: "
        "one map-side-combinable aggregate over the filtered scan, "
        "zero shuffles of the fact",
)
def q_ols_multi_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        F.hour("ts").alias("h"),
        ((epoch_day("ts") + 4) % 7).alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    s = f.agg(
        F.count("*").alias("n"),
        F.sum("h").alias("sh"), F.sum("d").alias("sd"),
        F.sum(F.col("h") * F.col("h")).alias("shh"),
        F.sum(F.col("h") * F.col("d")).alias("shd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum("y").alias("sy"),
        F.sum(F.col("h") * F.col("y")).alias("shy"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
    )
    a11, a12, a13 = [F.col(c).cast("double") for c in ("n", "sh", "sd")]
    a22, a23, a33 = [F.col(c).cast("double") for c in ("shh", "shd", "sdd")]
    b1, b2, b3 = [F.col(c).cast("double") for c in ("sy", "shy", "sdy")]
    det = (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
           + a13 * (a12 * a23 - a22 * a13))
    det0 = (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
            + a13 * (b2 * a23 - a22 * b3))
    deth = (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13)
            + a13 * (a12 * b3 - b2 * a13))
    detd = (a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13)
            + b1 * (a12 * a23 - a22 * a13))
    return s.select(
        "n",
        F.floor(det0 / det * 1000000).cast("long").alias("b0_ppm"),
        F.floor(deth / det * 1000000).cast("long").alias("b_hour_ppm"),
        F.floor(detd / det * 1000000).cast("long").alias("b_dow_ppm"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (feature-store) interval join against derived SCD2 state
# ---------------------------------------------------------------------------

@register(
    "pit_state_feature_join",
    oracle="""
    WITH st AS (
      SELECT user_id, event_type AS state, epoch_us(ts) AS vf,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS vt
      FROM events WHERE event_type IN ('signup', 'error')
    ), p AS (
      SELECT user_id, epoch_us(ts) AS pts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT st.state, COUNT(*) AS n_purchases,
           CAST(SUM(p.cents) AS BIGINT) AS cents
    FROM p JOIN st
      ON p.user_id = st.user_id
     AND p.pts >= st.vf
     AND (st.vt IS NULL OR p.pts < st.vt)
    GROUP BY st.state ORDER BY st.state
    """,
    doc="Point-in-time feature join (the feature-store correctness "
        "shape): signup/error events become SCD2 validity intervals via "
        "LEAD (open-ended last interval), and each purchase joins to the "
        "state valid AT ITS OWN timestamp — never a future leak. "
        "Interval containment with a NULL-open right bound, grouped by "
        "joined state. Integer epoch-micros keys. Scale: both sides "
        "shuffle once on user_id; the interval build is one window over "
        "the (small) state-change stream; at fact scale the same plan "
        "bucket-joins if both sides are bucketed by user",
)
def q_pit_state_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    st = (
        ev.filter(F.col("event_type").isin("signup", "error"))
        .withColumn("ts_us", F.expr("ts_nanos div 1000"))
        .select(
            "user_id", F.col("event_type").alias("state"),
            F.col("ts_us").alias("vf"),
            F.lead("ts_us").over(w).alias("vt"),
        )
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("ts_nanos div 1000").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    j = p.join(
        st,
        (p["user_id"] == st["user_id"])
        & (F.col("pts") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("pts") < F.col("vt"))),
    )
    return (
        j.groupBy("state")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# Month-over-month revenue deltas
# ---------------------------------------------------------------------------

@register(
    "mom_revenue_change",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS mon,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY mon
    )
    SELECT mon, cents,
           LAG(cents) OVER (ORDER BY mon) AS prev_cents,
           CASE WHEN LAG(cents) OVER (ORDER BY mon) IS NULL THEN NULL
                ELSE (cents - LAG(cents) OVER (ORDER BY mon)) * 1000000
                     // LAG(cents) OVER (ORDER BY mon)
           END AS delta_ppm
    FROM m ORDER BY mon
    """,
    doc="Month-over-month revenue change in ppm: calendar months as "
        "integer (year*12+month) keys, LAG window, truncating integer "
        "division for the delta (Spark div == DuckDB // on signed "
        "operands) — the standard finance trend table made cross-engine "
        "exact. Scale: the fact collapses to |months| rows map-side "
        "before the single tiny window; the window runs over a "
        "pre-aggregated series, never the scan",
)
def q_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mon")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = bounded_window("mon")
    m2 = m.select(
        "mon", "cents", F.lag("cents").over(w).alias("prev_cents")
    )
    return m2.select(
        "mon", "cents", "prev_cents",
        F.when(F.col("prev_cents").isNull(), F.lit(None).cast("long"))
        .otherwise(
            F.expr("(cents - prev_cents) * 1000000 div prev_cents")
        )
        .alias("delta_ppm"),
    ).orderBy("mon")


# ---------------------------------------------------------------------------
# Contrastive-training negative pairs via a bucketed hash ring
# ---------------------------------------------------------------------------

@register(
    "contrastive_negative_pairs",
    oracle="""
    WITH ring AS (
      SELECT lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h,
             doc_id
      FROM documents
    ), nbr AS (
      SELECT lang AS anchor_lang,
             LEAD(lang) OVER (
               PARTITION BY h % 64 ORDER BY h, doc_id
             ) AS neg_lang
      FROM ring
    )
    SELECT anchor_lang, neg_lang, COUNT(*) AS n
    FROM nbr WHERE neg_lang IS NOT NULL
    GROUP BY anchor_lang, neg_lang
    ORDER BY anchor_lang, neg_lang
    """,
    doc="Deterministic in-batch negatives for contrastive training: docs "
        "ordered on a 64-bucket md5 hash ring, each anchor paired with "
        "its ring successor — pseudo-random, reproducible under "
        "re-partition and re-run (hash order, not rand()), and "
        "label-leak-free by construction. Reported as the anchor-lang x "
        "negative-lang mixing matrix a curriculum builder audits. "
        "Scale: the ring is bucketed (h mod 64) so the LEAD window "
        "parallelizes per bucket — never a single global sort; one "
        "shuffle on the bucket key",
)
def q_contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    ring = _t(spark, sf_dir, "documents").select(
        "lang",
        portable_hash60(F.col("doc_id").cast("string")).alias("h"),
        "doc_id",
    )
    w = Window.partitionBy(F.pmod("h", F.lit(64))).orderBy("h", "doc_id")
    nbr = ring.select(
        F.col("lang").alias("anchor_lang"),
        F.lead("lang").over(w).alias("neg_lang"),
    )
    return (
        nbr.filter(F.col("neg_lang").isNotNull())
        .groupBy("anchor_lang", "neg_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("anchor_lang", "neg_lang")
    )


# ---------------------------------------------------------------------------
# KWIC (keyword-in-context) snippet extraction
# ---------------------------------------------------------------------------

@register(
    "kwic_context_window",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 200
    ), hit AS (
      SELECT doc_id, toks, list_position(toks, 'spark') AS pos
      FROM t
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           array_to_string(
             list_slice(toks, GREATEST(1, pos - 2),
                        LEAST(len(toks), pos + 2)), ' '
           ) AS context
    FROM hit WHERE pos IS NOT NULL AND pos > 0
    ORDER BY doc_id
    """,
    doc="Keyword-in-context snippet extraction: first occurrence of the "
        "query token per document with a +-2-token window, via 1-based "
        "array_position + slice (clipped at both ends) — the snippet "
        "generator of a search/eval pipeline, done entirely in codegen "
        "array expressions (no UDF, no regex). Scale: scan-side only, "
        "zero shuffles; the doc_id filter is pushed to the parquet scan",
)
def q_kwic_context_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    hit = t.select(
        "doc_id", "toks",
        F.array_position("toks", "spark").cast("long").alias("pos"),
    )
    s = F.greatest(F.lit(1), F.col("pos") - 2)
    e = F.least(F.size("toks").cast("long"), F.col("pos") + 2)
    return (
        hit.filter(F.col("pos") > 0)
        .select(
            "doc_id", "pos",
            F.array_join(
                F.slice("toks", s.cast("int"), (e - s + 1).cast("int")), " "
            ).alias("context"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# int8 quantization error audit over the embedding corpus
# ---------------------------------------------------------------------------

@register(
    "int8_quantization_error",
    oracle="""
    WITH v AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), m AS (
      SELECT label, e,
             list_aggregate(list_transform(e, x -> abs(x)), 'max') AS mx
      FROM v
    ), err AS (
      SELECT label,
             CASE WHEN mx = 0 THEN 0 ELSE
               CAST(list_aggregate(list_transform(e, x ->
                 CAST(floor(
                   (x - round(x * 127.0 / mx) * mx / 127.0)
                   * (x - round(x * 127.0 / mx) * mx / 127.0)
                   * 1099511627776.0) AS BIGINT)), 'sum') AS BIGINT)
             END AS sse_q40
      FROM m
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(sse_q40) AS BIGINT) AS sse_q40
    FROM err GROUP BY label ORDER BY label
    """,
    doc="Symmetric per-vector int8 quantization audit (the compression "
        "used to serve embedding indexes): reconstruction squared error "
        "of round(x*127/max_abs), per-element floored at Q40 fixed point "
        "so the sums are exact integers — round/div/mul on identical "
        "doubles are correctly-rounded IEEE ops, so both engines agree "
        "bit-for-bit. The max_abs scalar is materialized in a prior "
        "projection so the higher-order lambda references a plain column "
        "(computed arrays inside HOF lambdas re-evaluate per element). "
        "Scale: scan-side arithmetic only, one tiny per-label aggregate, "
        "zero shuffles of the vectors",
)
def q_int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    m = v.select(
        "label", "e",
        F.array_max(F.transform("e", lambda x: F.abs(x))).alias("mx"),
    )
    err_elem = (
        "CAST(floor((x - round(x * 127.0 / mx) * mx / 127.0)"
        " * (x - round(x * 127.0 / mx) * mx / 127.0)"
        " * 1099511627776.0) AS BIGINT)"
    )
    err = m.select(
        "label",
        F.when(F.col("mx") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                f"aggregate(transform(e, x -> {err_elem}),"
                " CAST(0 AS BIGINT), (acc, y) -> acc + y)"
            )
        )
        .alias("sse_q40"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("sse_q40").alias("sse_q40"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Near-dup threshold sensitivity sweep (exact, integer-threshold compare)
# ---------------------------------------------------------------------------

@register(
    "neardup_threshold_sweep",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents)
    ), pairs AS (
      SELECT len(list_intersect(a.g, b.g)) AS i,
             len(list_distinct(list_concat(a.g, b.g))) AS u
      FROM sh a JOIN sh b ON b.doc_id > a.doc_id
    )
    SELECT thr_permille,
           CAST(COUNT(*) FILTER (WHERE i * 1000 >= thr_permille * u)
                AS BIGINT) AS n_pairs
    FROM pairs, (VALUES (500), (650), (800)) AS t(thr_permille)
    GROUP BY thr_permille ORDER BY thr_permille
    """,
    doc="Near-dup threshold sensitivity: exact pair counts at Jaccard "
        ">= 0.5 / 0.65 / 0.8 in ONE pass — the sweep a curation team "
        "runs before fixing the dedup threshold, with the comparison "
        "done as cross-multiplied integers (i*1000 >= thr*u) so no "
        "float threshold ever splits between engines. Quadratic audit "
        "baseline by design (assert_small-gated like "
        "jaccard_neardup_pairs); minhash_dedup is the production path "
        "whose recall this sweep calibrates. Scale: runs on bounded "
        "samples; the gram sets are computed once scan-side",
)
def q_neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import shingles
    from .operators.relational import assert_small

    docs = assert_small(
        _t(spark, sf_dir, "documents"), 25_000, "neardup_threshold_sweep"
    )
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("g"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    pairs = a.join(b, F.col("id_b") > F.col("id_a")).select(
        F.size(F.array_intersect("ga", "gb")).cast("long").alias("i"),
        F.size(F.array_distinct(F.concat("ga", "gb"))).cast("long").alias("u"),
    )
    thr = spark.createDataFrame(
        [(500,), (650,), (800,)], "thr_permille int"
    )
    return (
        pairs.crossJoin(F.broadcast(thr))
        .groupBy("thr_permille")
        .agg(
            F.sum(
                F.when(
                    F.col("i") * 1000 >= F.col("thr_permille") * F.col("u"), 1
                ).otherwise(0)
            ).alias("n_pairs")
        )
        .orderBy("thr_permille")
    )


# ---------------------------------------------------------------------------
# Shard assignment balance audit
# ---------------------------------------------------------------------------

@register(
    "shard_balance_audit",
    oracle="""
    WITH s AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 16 AS shard,
             n_chars
      FROM documents
    ), c AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM s GROUP BY shard
    ), t AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c
    )
    SELECT c.shard, c.n_docs, c.sum_chars,
           c.n_docs * 16000000 // t.total AS load_ppm_x16
    FROM c, t ORDER BY c.shard
    """,
    doc="Shard-assignment balance audit: docs hashed to 16 shards "
        "(md5-derived, the deterministic writer-side assignment "
        "domain_mix/pack use), reporting per-shard doc count, byte load, "
        "and the x16-scaled load share in ppm (1,000,000 = perfectly "
        "even) — the pre-flight check before a bucketed/sharded write, "
        "since one hot shard serializes the whole job. Scale: one "
        "16-key map-side-combinable aggregate + a 1-row broadcast "
        "total, zero data shuffles",
)
def q_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    s = _t(spark, sf_dir, "documents").select(
        F.pmod(
            portable_hash60(F.col("doc_id").cast("string")), F.lit(16)
        ).alias("shard"),
        "n_chars",
    )
    c = s.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    t = c.agg(F.sum("n_docs").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "shard", "n_docs", "sum_chars",
            F.expr("n_docs * 16000000 div total").alias("load_ppm_x16"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Spark 4 VARIANT semi-structured path
# ---------------------------------------------------------------------------

@register(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN props->>'$.k' IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Spark 4 VARIANT ingestion path: parse_json -> VARIANT (shredded "
        "binary encoding, not a string re-parse per access) -> "
        "variant_get('$.k') typed extraction, aggregated per event type "
        "with a missing-key count. The OTHER semi-structured lane next "
        "to from_json (json_extract_agg): from_json needs the schema "
        "up front, VARIANT defers typing to access time — the "
        "schema-drift-tolerant shape. Scale: parse once scan-side, "
        "extraction is a JVM expression on the binary value; one "
        "map-side-combinable aggregate",
)
def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "n_missing"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ANSI-safe try_* arithmetic surface
# ---------------------------------------------------------------------------

@register(
    "try_arithmetic_report",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_divzero,
           CAST(SUM(CASE WHEN user_id % 5 = 0 THEN 0
                         ELSE CAST(round(value * 100) AS BIGINT)
                              // (user_id % 5) END) AS BIGINT)
             AS sum_cents_per_unit
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    doc="ANSI-mode-safe arithmetic surface: the engine runs with "
        "spark.sql.ansi.enabled (overflow/div-zero ERROR as a "
        "correctness tripwire), so fallible row math uses the try_* "
        "family — try_divide yields NULL on the planted zero divisors "
        "instead of failing the job, reported as a null-count plus the "
        "surviving integer sum. Oracle replays the NULL semantics with "
        "an explicit CASE. Scale: pure scan expressions, one aggregate",
)
def q_try_arithmetic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 5).alias("div"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    per_unit = F.try_divide(F.col("cents"), F.col("div"))
    return (
        ev.withColumn("pu", per_unit)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("pu").isNull(), 1).otherwise(0)).alias(
                "n_divzero"
            ),
            F.sum(
                F.when(F.col("pu").isNull(), F.lit(0).cast("long"))
                .otherwise(F.expr("cents div div"))
            ).alias("sum_cents_per_unit"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (the rolling-MAU shape)
# ---------------------------------------------------------------------------

@register(
    "rolling_7d_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             user_id
      FROM events
    ), days AS (
      SELECT DISTINCT day FROM du
    )
    SELECT d.day, COUNT(DISTINCT u.user_id) AS active_7d
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
    doc="Rolling 7-day distinct active users per day — the rolling-MAU "
        "problem plain windows cannot express (COUNT(DISTINCT) over a "
        "RANGE frame is unsupported), solved as: dedup to (day, user) "
        "pairs once, then a bounded 7-day band join back to the day "
        "spine and a distinct count. Integer epoch-day keys. Scale: the "
        "(day, user) dedup is the only fact shuffle; the band join fans "
        "each pair out at most 7x and the spine side is |days| rows — "
        "the standard sliding-distinct decomposition",
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    du = (
        _t(spark, sf_dir, "events")
        .select(
            epoch_day("ts")
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .distinct()
    )
    days = du.select("day").distinct()
    j = days.alias("d").join(
        du.alias("u"),
        F.col("u.day").between(F.col("d.day") - 6, F.col("d.day")),
    )
    return (
        j.groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("active_7d"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Replayable fixed-bucket quantile sketch (the mergeable histogram twin)
# ---------------------------------------------------------------------------

@register(
    "histogram_quantile_sketch",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 50000 AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY bucket
    ), c AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket) AS cum,
             SUM(cnt) OVER () AS total
      FROM b
    )
    SELECT
      CAST(MIN(CASE WHEN cum * 2 >= total THEN bucket END) AS BIGINT)
        AS p50_bucket,
      CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN bucket END) AS BIGINT)
        AS p90_bucket,
      CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN bucket END) AS BIGINT)
        AS p99_bucket,
      CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM c
    """,
    doc="Mergeable fixed-bucket quantile sketch with a hash-grade "
        "oracle: prices bucketed at 500-unit (50000-cent) resolution, "
        "quantiles read off the cumulative counts with cross-multiplied "
        "integer thresholds (cum*2 >= total — no float quantile "
        "boundary). The exact twin of approx_quantiles (Spark's "
        "internal t-digest, unoracleable) and the sketch twin of the "
        "exact `quantiles` query — same evidence pattern as "
        "cms_heavy_hitters/hll_registers_exact. Scale: bucket counts "
        "are map-side combinable and mergeable across loads by "
        "addition; the cumulative pass runs over |buckets| rows, "
        "never the fact",
)
def q_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT) div 50000"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    w = bounded_window("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wt = bounded_window()
    c = b.select(
        "bucket", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    return c.agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("total"), F.col("bucket"))
        ).alias("p50_bucket"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("bucket"))
        ).alias("p90_bucket"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * 99, F.col("bucket"))
        ).alias("p99_bucket"),
        F.count("*").alias("n_buckets"),
    )


# ---------------------------------------------------------------------------
# regexp_extract_all surface
# ---------------------------------------------------------------------------

@register(
    "regex_extract_all_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             regexp_extract_all(text, '\\b(s[a-z]{3,})\\b', 1) AS hits
      FROM documents
    )
    SELECT unnest.h AS term, COUNT(*) AS n
    FROM m, unnest(hits) AS unnest(h)
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 15
    """,
    doc="regexp_extract_all + explode surface: every 4+-letter token "
        "starting with 's' captured corpus-wide (group-1 extraction), "
        "exploded and counted — the term-mining shape (emails, URLs, "
        "ids) done with ONE vectorized regex pass per document instead "
        "of a per-token UDF loop. RE2-safe pattern (no lookaround) so "
        "the DuckDB oracle runs it verbatim. Scale: scan-side regex, "
        "one count shuffle, TakeOrderedAndProject top-15",
)
def q_regex_extract_all_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _t(spark, sf_dir, "documents").select(
        F.expr(
            r"regexp_extract_all(text, '\\b(s[a-z]{3,})\\b', 1)"
        ).alias("hits")
    )
    return (
        m.select(F.explode("hits").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# unionByName with missing columns
# ---------------------------------------------------------------------------

@register(
    "union_by_name_mixed",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             NULL AS src_flag
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderpriority, NULL AS cents, 'open' AS src_flag
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(COALESCE(cents, 0)) AS BIGINT) AS cents_sum,
           CAST(SUM(CASE WHEN src_flag IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_flagged
    FROM u GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Schema-evolution union: two projections with DIFFERENT column "
        "sets combined by NAME (unionByName allowMissingColumns=True — "
        "absent columns become NULL), the shape every multi-vintage "
        "ingest hits when a loader adds a field. Aggregated so the "
        "NULL-filling is observable (coalesced sum + flag count). "
        "Scale: both branches scan with pushed status filters; the "
        "union is plan-level (no materialization); one aggregate",
)
def q_union_by_name_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority",
        F.lit("open").alias("src_flag"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return (
        u.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("cents", F.lit(0))).alias("cents_sum"),
            F.sum(
                F.when(F.col("src_flag").isNull(), 0).otherwise(1)
            ).alias("n_flagged"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Deterministic arg-max via struct ordering
# ---------------------------------------------------------------------------

@register(
    "max_by_customer_order",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                        o_orderkey DESC
             ) AS rn
      FROM orders WHERE o_custkey < 200
    )
    SELECT o_custkey, CAST(o_orderkey AS BIGINT) AS top_orderkey,
           cents AS top_cents
    FROM r WHERE rn = 1 ORDER BY o_custkey
    """,
    doc="Deterministic ARG-MAX: each customer's highest-value order id — "
        "plain max_by is tie-nondeterministic, so the key is the "
        "(cents, orderkey) composite ordered lexicographically (Spark: "
        "max(struct(...)); oracle: row_number over the same composite "
        "order) — same total order, same winner, cross-engine exact. Scale: single "
        "map-side-combinable aggregate; the struct max carries 16 bytes "
        "per group through the shuffle",
)
def q_max_by_customer_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    m = F.max(F.struct(cents.alias("c"), F.col("o_orderkey").alias("k")))
    return (
        orders.groupBy("o_custkey")
        .agg(m.alias("m"))
        .select(
            "o_custkey",
            F.col("m.k").alias("top_orderkey"),
            F.col("m.c").alias("top_cents"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Date spine + gap fill (sequence/explode)
# ---------------------------------------------------------------------------

@register(
    "date_spine_fill_gaps",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ), spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    ), rev AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN r.cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gap_days,
           CAST(SUM(COALESCE(r.cents, 0)) AS BIGINT) AS total_cents
    FROM spine s LEFT JOIN rev r ON r.day = s.day
    """,
    doc="Date-spine gap fill: a complete calendar spine generated with "
        "sequence() between the table's min and max order dates, "
        "left-joined to daily revenue to COUNT the zero-revenue days a "
        "naive GROUP BY silently drops — the BI completeness pattern "
        "(and the precondition for any correct moving average). Scale: "
        "bounds are a 1-row aggregate; the spine explodes |days| rows "
        "driver-free; daily revenue is the only fact shuffle",
)
def q_date_spine_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bounds = orders.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    rev = orders.groupBy("day").agg(F.sum("cents").alias("cents"))
    j = spine.join(rev, "day", "left")
    return j.agg(
        F.count("*").alias("n_days"),
        F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0)).alias(
            "n_gap_days"
        ),
        F.sum(F.coalesce("cents", F.lit(0))).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# cogroup.applyInPandas — the two-sided grouped-map UDF surface
# ---------------------------------------------------------------------------

@register(
    "cogroup_order_event_match",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS day
      FROM orders WHERE o_custkey < 200
    ), e AS (
      SELECT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id < 200
    ), k AS (
      SELECT DISTINCT user_id FROM (
        SELECT user_id FROM o UNION ALL SELECT user_id FROM e
      )
    ), oc AS (
      SELECT user_id, COUNT(*) AS n FROM o GROUP BY user_id
    ), ec AS (
      SELECT user_id, COUNT(*) AS n FROM e GROUP BY user_id
    ), p AS (
      SELECT o.user_id, COUNT(*) AS np
      FROM o JOIN e ON e.user_id = o.user_id AND e.day = o.day
      GROUP BY o.user_id
    )
    SELECT k.user_id,
           CAST(COALESCE(oc.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(ec.n, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(p.np, 0) AS BIGINT) AS n_same_day_pairs
    FROM k
    LEFT JOIN oc USING (user_id)
    LEFT JOIN ec USING (user_id)
    LEFT JOIN p USING (user_id)
    ORDER BY k.user_id
    """,
    doc="cogroup(...).applyInPandas — the two-sided grouped-map UDF "
        "surface (the one Arrow lane the engine had not yet exercised): "
        "orders and events cogrouped per user, reconciled with a pandas "
        "merge inside the kernel (order count, event count, same-day "
        "pair count). The oracle replays it relationally (outer key "
        "union + per-side counts + day-equijoin pair count), so this "
        "Python-kernel path gets hash-grade evidence like every SQL "
        "path. Scale: both sides shuffle once on the user key; each "
        "kernel call sees only one user's rows — bounded memory, "
        "Arrow-batched",
)
def q_cogroup_order_event_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 200
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.to_date("o_orderdate").alias("day"),
    )
    events = _t(spark, sf_dir, "events").filter(
        F.col("user_id") < 200
    ).select("user_id", F.to_date("ts").alias("day"))

    def reconcile(key, o: pd.DataFrame, e: pd.DataFrame) -> pd.DataFrame:
        n_pairs = 0
        if len(o) and len(e):
            n_pairs = len(o[["day"]].merge(e[["day"]], on="day"))
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_orders": [len(o)],
                "n_events": [len(e)],
                "n_same_day_pairs": [n_pairs],
            }
        )

    out = (
        orders.groupBy("user_id")
        .cogroup(events.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id long, n_orders long, n_events long, "
            "n_same_day_pairs long",
        )
    )
    return out.orderBy("user_id")


# ---------------------------------------------------------------------------
# Decile lift/gains table (model-eval staple)
# ---------------------------------------------------------------------------

@register(
    "decile_lift_table",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    ), r AS (
      SELECT user_id, cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, user_id) AS rn,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS total
      FROM s
    ), d AS (
      SELECT (rn - 1) * 10 // n AS decile, cents, n, total FROM r
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(floor(
             CAST(SUM(cents) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(total) AS DOUBLE))
             * 1000000
           ) AS BIGINT) AS lift_ppm
    FROM d GROUP BY decile ORDER BY decile
    """,
    doc="Decile lift/gains table — the model-evaluation staple: users "
        "ranked by total spend (score surrogate), split into exact "
        "row-number deciles ((rn-1)*10 div n — no NTILE tie ambiguity), "
        "each decile's share-vs-average lift in ppm via one identical "
        "double expression over exact integer sums. Scale: one user "
        "aggregate, then the ranking runs over |users| pre-aggregated "
        "rows; at fact scale the rank pass uses the two-level "
        "bucket-prefix cumsum documented for the percentile family",
)
def q_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = bounded_window(F.desc("cents"), "user_id")
    wt = bounded_window()
    r = s.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wt).alias("n"),
        F.sum("cents").over(wt).alias("total"),
    )
    d = r.select(
        F.expr("(rn - 1) * 10 div n").alias("decile"), "cents", "n", "total"
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("cents").alias("sum_cents"),
            F.floor(
                F.sum("cents").cast("double")
                * F.max("n").cast("double")
                / (F.count("*").cast("double") * F.max("total").cast("double"))
                * 1000000
            ).cast("long").alias("lift_ppm"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Collocation mining: token-pair lift (PMI surrogate without log)
# ---------------------------------------------------------------------------

@register(
    "pmi_top_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
               i -> {'a': toks[i], 'b': toks[i + 1]})) AS p
      FROM t WHERE len(toks) >= 2
    ), pair_n AS (
      SELECT p.a AS a, p.b AS b, COUNT(*) AS n_ab FROM bg GROUP BY p.a, p.b
    ), tok_n AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), uni AS (
      SELECT w, COUNT(*) AS n FROM tok_n GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM uni
    )
    SELECT p.a, p.b, p.n_ab,
           CAST(floor(
             CAST(p.n_ab AS DOUBLE) * CAST(t.total AS DOUBLE)
             / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) * 1000000
           ) AS BIGINT) AS lift_ppm
    FROM pair_n p
    JOIN uni ua ON ua.w = p.a
    JOIN uni ub ON ub.w = p.b
    CROSS JOIN tot t
    WHERE p.n_ab >= 20
    ORDER BY lift_ppm DESC, p.a, p.b
    LIMIT 15
    """,
    doc="Collocation mining: adjacent token pairs ranked by association "
        "lift p(ab)/(p(a)p(b)) — the PMI surrogate without the log "
        "(monotone in PMI, so the ranking is identical), computed as one "
        "identical double expression over exact integer counts and "
        "floored to ppm. The step past bigram_top20's raw counts: "
        "frequency finds common pairs, lift finds BOUND pairs — the "
        "phrase-detection pass a tokenizer/phraser runs (word2vec-style "
        "phrase promotion). Min support 20 keeps the rare-pair noise "
        "floor out. Scale: bigram expansion is scan-side zip_with; two "
        "count shuffles (pairs, unigrams) + a broadcast total; top-15 "
        "via TakeOrderedAndProject",
)
def q_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size("toks")
    bg = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n - 1),
                    F.slice("toks", 2, n - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    pair_n = bg.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    tot = uni.agg(F.sum("n").alias("total"))
    ua = uni.select(F.col("w").alias("a"), F.col("n").alias("na"))
    ub = uni.select(F.col("w").alias("b"), F.col("n").alias("nb"))
    j = (
        pair_n.filter(F.col("n_ab") >= 20)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
    )
    return (
        j.select(
            "a", "b", "n_ab",
            F.floor(
                F.col("n_ab").cast("double") * F.col("total").cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double"))
                * 1000000
            ).cast("long").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "a", "b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Session bounce rate per day
# ---------------------------------------------------------------------------

@register(
    "session_bounce_rate_daily",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0
             END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, tus,
             CAST(SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS session_seq
      FROM gaps
    ), per AS (
      SELECT user_id, session_seq,
             MIN(tus) AS start_us, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT (start_us // 86400000000) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_ppm
    FROM per GROUP BY day ORDER BY day
    """,
    doc="Daily bounce rate: share of 30-min-gap sessions containing a "
        "single event, keyed by the session's start day (integer "
        "epoch-day of epoch-micros — no date_trunc) — the engagement "
        "red-flag metric on top of the engine's sessionize shape, with "
        "the rate as truncating-division ppm. Scale: one user-keyed "
        "shuffle for the gap windows (reused by the per-session "
        "aggregate — same partitioning), then a tiny per-day rollup",
)
def q_session_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "tus", F.expr("ts_nanos div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = ev.select(
        "user_id", "event_id", "tus",
        F.when(
            (F.col("tus") - F.lag("tus").over(w) > 1_800_000_000)
            | F.lag("tus").over(w).isNull(),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = gaps.select(
        "user_id", "tus",
        F.sum("new_sess").over(ws).alias("session_seq"),
    )
    per = sess.groupBy("user_id", "session_seq").agg(
        F.min("tus").alias("start_us"), F.count("*").alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        per.groupBy(F.expr("start_us div 86400000000").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            bounce.alias("n_bounces"),
        )
        .select(
            "day", "n_sessions", "n_bounces",
            F.expr("n_bounces * 1000000 div n_sessions").alias("bounce_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup (quote/inclusion detection)
# ---------------------------------------------------------------------------

@register(
    "containment_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE doc_id < 300)
    )
    SELECT a.doc_id AS id_small, b.doc_id AS id_big,
           CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_shared,
           CAST(len(a.g) AS BIGINT) AS n_small
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(a.g) <= len(b.g)
      AND len(list_intersect(a.g, b.g)) * 10 >= 8 * len(a.g)
      AND (len(a.g) < len(b.g) OR a.doc_id < b.doc_id)
    ORDER BY id_small, id_big
    """,
    doc="Asymmetric CONTAINMENT near-dup: pairs where >=80% of the "
        "smaller doc's 3-gram set appears in the larger one — catches "
        "quote-inclusion and excerpt reuse that symmetric Jaccard "
        "misses (a short doc fully inside a long one has low Jaccard "
        "but containment 1). Integer cross-multiplied threshold "
        "(shared*10 >= 8*|small|), smaller-side normalization with a "
        "deterministic orientation tie-break on equal sizes. Quadratic "
        "audit form gated to a doc_id sample; the LSH/banded machinery "
        "is the scale path exactly as for Jaccard (containment LSH "
        "buckets on the small side's signature). Scale note: runs on "
        "bounded samples by design",
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import shingles

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("g"))
    a = sh.select(F.col("doc_id").alias("id_small"), F.col("g").alias("ga"))
    b = sh.select(F.col("doc_id").alias("id_big"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb")).cast("long")
    na = F.size("ga").cast("long")
    nb = F.size("gb").cast("long")
    return (
        a.join(b, F.col("id_small") != F.col("id_big"))
        .filter(
            (na <= nb)
            & (inter * 10 >= 8 * na)
            & ((na < nb) | (F.col("id_small") < F.col("id_big")))
        )
        .select(
            "id_small", "id_big",
            inter.alias("n_shared"),
            na.alias("n_small"),
        )
        .orderBy("id_small", "id_big")
    )
