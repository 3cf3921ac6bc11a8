"""Round-7 queries.

Every query follows the repo conventions: integer or fixed-point outputs
(no float hash hazards), BIGINT casts on every count/row_number-derived
column (strict parity flags int32-vs-int64), deterministic tie-breaks, and
a DuckDB oracle that replays the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.dates import epoch_day
from .functions.money import cents_nonneg, cents_signed

from .functions.windows import bounded_window
from .registry import _t, register


# ---------------------------------------------------------------------------
# Window depth: running distinct count via the first-occurrence trick
# ---------------------------------------------------------------------------

@register(
    "running_distinct_event_types",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
    ), f AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts_us, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM e
    ), r AS (
      SELECT user_id,
             ROW_NUMBER() OVER w AS pos,
             SUM(first_seen) OVER w AS rd
      FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(rd) AS BIGINT) AS n_distinct_types,
           CAST(MIN(CASE WHEN rd >= 3 THEN pos END) AS BIGINT)
             AS events_to_3_types
    FROM r GROUP BY user_id
    """,
    doc="Running DISTINCT count over an ordered stream — the window shape "
        "engines cannot express directly (COUNT(DISTINCT) OVER is "
        "unsupported in both Spark and DuckDB) — via the first-occurrence "
        "decomposition: rank within (user, type) marks each type's first "
        "event, and a running SUM of that flag IS the running distinct "
        "count. Emits per-user time-to-variety (events until 3 distinct "
        "types). Scale: two window passes over the same user-keyed sort — "
        "one exchange, no join, no state blowup (vs. a running collect_set "
        "which is O(types) per row)",
)
def q_running_distinct_event_types(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_nanos div 1000").alias("ts_us"),
        "event_id",
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id")
    w_run = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    r = ev.select(
        "user_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        .alias("first_seen"),
        "ts_us", "event_id",
    ).select(
        "user_id",
        F.row_number().over(w_run).cast("long").alias("pos"),
        F.sum("first_seen").over(w_run).cast("long").alias("rd"),
    )
    return r.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("rd").cast("long").alias("n_distinct_types"),
        F.min(F.when(F.col("rd") >= 3, F.col("pos"))).cast("long")
        .alias("events_to_3_types"),
    )


# ---------------------------------------------------------------------------
# Gaps and islands: longest consecutive-day activity streak
# ---------------------------------------------------------------------------

@register(
    "longest_daily_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ), r AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS isl
      FROM d
    ), s AS (
      SELECT user_id, isl, COUNT(*) AS len FROM r GROUP BY user_id, isl
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY user_id
    """,
    doc="Gaps-and-islands: consecutive-day activity streaks per user via "
        "the day-minus-row_number island key (consecutive days share a "
        "constant difference), then longest streak + streak count. Scale: "
        "the (user, day) distinct and both aggregations all hash on "
        "user-keyed groups — one exchange reused; no self-join, no "
        "sequential scan (the classic iterative formulation), holds at "
        "any fact size",
)
def q_longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_nanos div 86400000000000").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ev.select(
        "user_id", "day",
        (F.col("day") - F.row_number().over(w).cast("long")).alias("isl"),
    )
    s = isl.groupBy("user_id", "isl").agg(F.count("*").alias("len"))
    return s.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# ML feature engineering: smoothed target encoding (m-estimate)
# ---------------------------------------------------------------------------

_TE_M = 20  # m-estimate smoothing pseudo-count


@register(
    "target_encode_nation",
    oracle=f"""
    WITH oc AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), j AS (
      SELECT c.c_nationkey, oc.cents
      FROM oc JOIN customer c ON oc.o_custkey = c.c_custkey
    ), per AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM j GROUP BY c_nationkey
    ), g AS (
      SELECT CAST(SUM(s) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS gmean_c
      FROM per
    )
    SELECT CAST(per.c_nationkey AS BIGINT) AS nationkey,
           per.n AS n_orders,
           (per.s + {_TE_M} * g.gmean_c) // (per.n + {_TE_M})
             AS encoded_cents
    FROM per CROSS JOIN g
    """,
    doc="Smoothed target encoding (m-estimate, m=20): each customer nation "
        "is encoded as (sum_target + m*global_mean)/(n + m) of order value "
        "— the leakage-robust categorical encoding used in gradient-boosted "
        "feature pipelines. Integer-cents arithmetic end-to-end (global "
        "mean as integer division) so the hash is order-free. Scale: one "
        "fact-side shuffle for the join (customer broadcastable at test "
        "SF, AQE decides), one 25-group aggregate, global mean is a 1-row "
        "crossJoin literal — no second fact pass",
)
def q_target_encode_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    oc = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        cents_nonneg(F.col("o_totalprice")).alias("cents"),
    )
    per = (
        oc.join(cust, oc.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("long").alias("n"),
             F.sum("cents").cast("long").alias("s"))
    )
    g = per.agg(
        F.expr("sum(s) DIV sum(n)").cast("long").alias("gmean_c"))
    return per.crossJoin(F.broadcast(g)).select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("n").alias("n_orders"),
        F.expr(f"(s + {_TE_M} * gmean_c) DIV (n + {_TE_M})")
        .cast("long").alias("encoded_cents"),
    )


# ---------------------------------------------------------------------------
# ML feature engineering: the hashing trick
# ---------------------------------------------------------------------------

@register(
    "feature_hash_counts",
    oracle="""
    WITH t AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               x -> x != '')) AS tok
      FROM documents
    )
    SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM t GROUP BY 1
    """,
    doc="Feature hashing (the hashing trick): tokens are mapped to a fixed "
        "64-bucket feature space via the repo's portable 60-bit md5 hash, "
        "then bucket occupancy + collision profile (distinct tokens per "
        "bucket) is emitted — the fixed-width featurizer for models that "
        "cannot carry a vocabulary. Scale: explode + hash are scan-stage "
        "codegen; ONE 64-group aggregate with map-side partials; the "
        "feature space never grows with the corpus (that is the point of "
        "the trick)",
)
def q_feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: F.length(t) > 0,
        )).alias("tok")
    )
    bucket = (
        F.expr("conv(substr(md5(cast(tok as binary)), 1, 15), 16, 10)")
        .cast("long") % 64
    )
    return toks.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# Training-data hygiene: split leakage audit
# ---------------------------------------------------------------------------

@register(
    "split_leakage_audit",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                           1, 15) AS BIGINT) % 10 < 9
                  THEN 'train' ELSE 'val' END AS split
      FROM orders
    ), per AS (
      SELECT CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT)
               AS n_train,
             CAST(COUNT(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
             CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE split = 'train')
                  AS BIGINT) AS cust_train,
             CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE split = 'val')
                  AS BIGINT) AS cust_val
      FROM s
    ), both_c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cust_both FROM (
        SELECT o_custkey FROM s GROUP BY o_custkey
        HAVING COUNT(DISTINCT split) = 2)
    )
    SELECT per.*, both_c.cust_both,
           both_c.cust_both * 1000000 // per.cust_val AS leak_ppm
    FROM per CROSS JOIN both_c
    """,
    doc="Train/val split leakage audit: orders are hash-split 90/10 at the "
        "ROW level (md5 of the order key — deterministic, SF-stable), then "
        "the audit counts customers whose orders land in BOTH splits — the "
        "entity leakage that row-level splitting of grouped data always "
        "produces, and the reason entity-level splitting "
        "(train_val_test_split) exists. Single-row report with leak ppm. "
        "Scale: one distinct-aggregate on the split pair + one customer "
        "group-by; both map-side-combine on the same key; no fact "
        "collected",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(
            F.expr(
                "conv(substr(md5(cast(cast(o_orderkey as string) as binary))"
                ", 1, 15), 16, 10)"
            ).cast("long") % 10 < 9,
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("split"),
    )
    per = o.agg(
        F.count(F.when(F.col("split") == "train", 1)).cast("long")
        .alias("n_train"),
        F.count(F.when(F.col("split") == "val", 1)).cast("long")
        .alias("n_val"),
        F.countDistinct(
            F.when(F.col("split") == "train", F.col("o_custkey"))
        ).cast("long").alias("cust_train"),
        F.countDistinct(
            F.when(F.col("split") == "val", F.col("o_custkey"))
        ).cast("long").alias("cust_val"),
    )
    both = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") == 2)
        .agg(F.count("*").cast("long").alias("cust_both"))
    )
    return per.crossJoin(F.broadcast(both)).select(
        "n_train", "n_val", "cust_train", "cust_val", "cust_both",
        F.expr("cust_both * 1000000 DIV cust_val").cast("long")
        .alias("leak_ppm"),
    )


# ---------------------------------------------------------------------------
# Tokenizer coverage audit: OOV rate against a top-K corpus vocabulary
# ---------------------------------------------------------------------------

_OOV_K = 10  # tiny synthetic vocab (~40 types); top-10 leaves a real OOV tail


@register(
    "oov_rate_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               x -> x != '')) AS tok
      FROM documents
    ), v AS (
      SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok)
      QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tok) <= {_OOV_K}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT)
             * 1000000 // COUNT(*) AS oov_ppm
    FROM t LEFT JOIN v ON t.tok = v.tok
    GROUP BY lang
    """,
    doc="Tokenizer-coverage audit: a top-K corpus vocabulary (count desc, "
        "token asc tie-break — deterministic) is built in one aggregate, "
        "then every token stream is scored for out-of-vocabulary rate per "
        "language — the first question asked of any fixed-vocab tokenizer "
        "against a new corpus. Scale: the vocab is Zipf-small and "
        "broadcast; the OOV scan is one broadcast left join over the "
        "exploded token stream + one lang-keyed aggregate — the corpus is "
        "read once",
)
def q_oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: F.length(t) > 0,
        )).alias("tok"),
    )
    w = bounded_window(F.col("c").desc(), F.col("tok"))
    vocab = (
        toks.groupBy("tok").agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _OOV_K)
        .select(F.col("tok").alias("vtok"))
    )
    j = toks.join(F.broadcast(vocab), toks.tok == vocab.vtok, "left")
    return j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count(F.when(F.col("vtok").isNull(), 1)).cast("long")
        .alias("n_oov"),
        F.expr("count(CASE WHEN vtok IS NULL THEN 1 END) * 1000000 "
               "DIV count(*)").cast("long").alias("oov_ppm"),
    )


# ---------------------------------------------------------------------------
# Observability: HdrHistogram-style log2-bucketed latency histogram
# ---------------------------------------------------------------------------

@register(
    "gap_log2_histogram",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ), g AS (
      SELECT ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id) AS gap_us
      FROM e
    )
    SELECT CAST(length(bin(gap_us + 1)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
    doc="Log2-bucketed inter-event latency histogram (the HdrHistogram / "
        "observability shape): per-user event gaps via one LAG window, "
        "bucket = bit-length of the gap (Spark length(conv(v,10,2)) == "
        "DuckDB length(bin(v)), the repo's established integer bit-math "
        "twin), so the histogram has ~40 buckets regardless of data "
        "volume. Scale: one user-keyed window pass + one tiny-key "
        "aggregate; the exponential bucketing is what makes the output "
        "size data-independent — the 100 TB-safe histogram",
)
def q_gap_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_nanos div 1000").alias("ts_us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return g.groupBy(
        F.expr("length(conv(gap_us + 1, 10, 2))").cast("long")
        .alias("log2_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# SQL semantics: null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

@register(
    "null_safe_join_eqnullsafe",
    oracle="""
    SELECT d.label,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents
    FROM customer c
    JOIN (VALUES ('AUTOMOBILE', 'automobile'), ('MACHINERY', 'machinery'),
                 ('FURNITURE', 'furniture'), ('HOUSEHOLD', 'household'),
                 (NULL, 'building_as_null')) d(k, label)
      ON NULLIF(c.c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM d.k
    GROUP BY d.label
    """,
    doc="Null-safe equality join: a nullable join key (NULLIF collapses "
        "one segment to NULL) joined with Spark's <=> (eqNullSafe) against "
        "a dimension that carries an explicit NULL member — NULL matches "
        "NULL, the semantic plain equi-join silently drops. Oracle uses "
        "IS NOT DISTINCT FROM, the ANSI spelling. Scale: <=> keys are "
        "hash-partitionable exactly like = keys (NULL is one more hash "
        "value), so this broadcasts/shuffles identically to a plain "
        "equi-join — no nested-loop fallback",
)
def q_null_safe_join_eqnullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.expr("nullif(c_mktsegment, 'BUILDING')").alias("k"),
        cents_signed(F.col("c_acctbal")).alias("cents"),
    )
    dim = spark.createDataFrame(
        [("AUTOMOBILE", "automobile"), ("MACHINERY", "machinery"),
         ("FURNITURE", "furniture"), ("HOUSEHOLD", "household"),
         (None, "building_as_null")],
        "dk string, label string",
    )
    return (
        cust.join(F.broadcast(dim), cust.k.eqNullSafe(dim.dk))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("n_customers"),
             F.sum("cents").cast("long").alias("bal_cents"))
    )


# ---------------------------------------------------------------------------
# As-of join, two-relation form with tolerance (bucketed scale path)
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 3600000000  # 1 hour


@register(
    "asof_tolerance_join",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
    ), p AS (
      SELECT user_id, event_id AS p_id, ts_us AS p_ts
      FROM e WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts_us AS c_ts, event_id AS c_id
      FROM e WHERE event_type = 'click'
    ), m AS (
      SELECT p.user_id, p.p_id, p.p_ts - c.c_ts AS gap
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - {_ASOF_TOL_US}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY p.p_id
                                 ORDER BY c.c_ts DESC, c.c_id DESC) = 1
    ), pa AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM p GROUP BY user_id
    ), ma AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
             CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
             CAST(MAX(gap) AS BIGINT) AS max_gap_us
      FROM m GROUP BY user_id
    )
    SELECT pa.user_id, pa.n_purchases,
           COALESCE(ma.n_matched, 0) AS n_matched,
           ma.sum_gap_us, ma.max_gap_us
    FROM pa LEFT JOIN ma USING (user_id)
    """,
    doc="Two-relation as-of join with tolerance: each purchase matches the "
        "most recent click by the same user within 1 hour (backward "
        "direction, the pandas merge_asof / QuestDB ASOF semantic), "
        "aggregated per user with unmatched purchases kept. The Spark "
        "side is the SCALE implementation: clicks are duplicated into "
        "their own and the NEXT 1-hour bucket, so the candidate join is a "
        "plain (user, bucket) EQUI-join — never an unbounded interval "
        "join — then rank-1 within tolerance. The oracle replays the "
        "naive interval formulation. Scale: candidate fan-in per purchase "
        "is bounded by clicks in 2 buckets; one shuffle on the composite "
        "key; skew-safe under AQE",
)
def q_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tol = _ASOF_TOL_US
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("ts_nanos div 1000").alias("ts_us"), "event_id")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"),
        F.col("ts_us").alias("p_ts"),
        F.expr(f"ts_us div {tol}").alias("bucket"))
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        F.expr(f"ts_us div {tol}").alias("b0"))
    c2 = c.withColumn(
        "bucket", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
    j = (
        p.join(c2, ["user_id", "bucket"])
        .where((F.col("c_ts") <= F.col("p_ts"))
               & (F.col("c_ts") >= F.col("p_ts") - tol))
    )
    w = Window.partitionBy("p_id").orderBy(
        F.col("c_ts").desc(), F.col("c_id").desc())
    best = (
        j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("user_id", "p_id", (F.col("p_ts") - F.col("c_ts"))
                .alias("gap"))
    )
    pa = p.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_purchases"))
    ma = best.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_matched"),
        F.sum("gap").cast("long").alias("sum_gap_us"),
        F.max("gap").cast("long").alias("max_gap_us"))
    return pa.join(ma, "user_id", "left").select(
        "user_id", "n_purchases",
        F.coalesce(F.col("n_matched"), F.lit(0).cast("long"))
        .alias("n_matched"),
        "sum_gap_us", "max_gap_us")


# ---------------------------------------------------------------------------
# Product analytics: DAU/PAU stickiness over fixed 30-day periods
# ---------------------------------------------------------------------------

@register(
    "dau_mau_stickiness",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ), dd AS (
      SELECT day // 30 AS period, day, CAST(COUNT(*) AS BIGINT) AS dau
      FROM d GROUP BY day // 30, day
    ), pp AS (
      SELECT day // 30 AS period,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS pau
      FROM d GROUP BY day // 30
    )
    SELECT dd.period,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(dd.dau) AS BIGINT) AS sum_dau,
           pp.pau,
           CAST(SUM(dd.dau) AS BIGINT) * 1000000 // (COUNT(*) * pp.pau)
             AS stickiness_ppm
    FROM dd JOIN pp ON dd.period = pp.period
    GROUP BY dd.period, pp.pau
    """,
    doc="DAU/MAU stickiness (avg daily actives over period actives, ppm) "
        "on fixed 30-day periods — day-arithmetic periods, not calendar "
        "months, so the key is pure integer math with zero timezone "
        "hazard. Scale: ONE (user, day) distinct is shared by both "
        "branches; the per-day and per-period rollups are tiny-key "
        "aggregates. The classic engagement ratio, complement to "
        "new_vs_returning_daily (acquisition split) and "
        "rolling_7d_active_users (window form)",
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_nanos div 86400000000000").alias("day")
    ).distinct()
    d = d.withColumn("period", F.expr("day div 30"))
    dd = d.groupBy("period", "day").agg(
        F.count("*").cast("long").alias("dau"))
    pp = d.groupBy("period").agg(
        F.countDistinct("user_id").cast("long").alias("pau"))
    return (
        dd.join(pp, "period")
        .groupBy("period", "pau")
        .agg(F.count("*").cast("long").alias("n_days"),
             F.sum("dau").cast("long").alias("sum_dau"))
        .select(
            "period", "n_days", "sum_dau", "pau",
            F.expr("sum_dau * 1000000 DIV (n_days * pau)").cast("long")
            .alias("stickiness_ppm"))
    )


# ---------------------------------------------------------------------------
# Changepoint detection: single best split by between-segment SS gain
# ---------------------------------------------------------------------------

@register(
    "changepoint_single_split",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS c
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT day, CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS sk,
             ROW_NUMBER() OVER (ORDER BY day) AS k
      FROM daily
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM daily
    ), sc AS (
      SELECT day, k, sk, s, n,
             (CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) / k
             + (CAST(s - sk AS DOUBLE) * CAST(s - sk AS DOUBLE)) / (n - k)
             - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n AS score
      FROM cum CROSS JOIN tot WHERE k < n
    )
    SELECT CAST(day AS BIGINT) AS split_day,
           CAST(k AS BIGINT) AS left_days,
           n AS n_days,
           CAST(floor(score) AS BIGINT) AS gain_floor
    FROM sc ORDER BY score DESC, day LIMIT 1
    """,
    doc="Offline changepoint detection (binary segmentation, first split): "
        "the day that maximizes the between-segment sum-of-squares gain "
        "over the daily-revenue series — computed from ONE cumulative-sum "
        "pass (gain(k) has a closed form in prefix sum, total and k; no "
        "per-split re-scan, so evaluating all n-1 candidate splits is "
        "O(n)). Integer-cents sums; the score is an IEEE double built from "
        "exact int64 casts with the identical expression shape in both "
        "engines (+,*,/ are correctly rounded — bit-identical), floored "
        "for the hash. Scale: the series is an aggregate (days, not "
        "facts); the single-partition window over it is trivially small. "
        "Complement to cusum_drift_alarms (sequential detection)",
)
def q_changepoint_single_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .alias("day")
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("c"))
    w = bounded_window("day")
    cum = daily.select(
        "day",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("sk"),
        F.row_number().over(w).cast("long").alias("k"))
    tot = daily.agg(F.sum("c").cast("long").alias("s"),
                    F.count("*").cast("long").alias("n"))
    sc = cum.crossJoin(F.broadcast(tot)).where(F.col("k") < F.col("n")).select(
        "day", "k", "n",
        F.expr(
            "(CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) / k"
            " + (CAST(s - sk AS DOUBLE) * CAST(s - sk AS DOUBLE)) / (n - k)"
            " - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n"
        ).alias("score"))
    return (
        sc.orderBy(F.col("score").desc(), F.col("day")).limit(1)
        .select(F.col("day").cast("long").alias("split_day"),
                F.col("k").alias("left_days"),
                F.col("n").alias("n_days"),
                F.floor("score").cast("long").alias("gain_floor"))
    )


# ---------------------------------------------------------------------------
# Resampling inference: deterministic hash-bootstrap CI for mean order value
# ---------------------------------------------------------------------------

_BOOT_B = 50


@register(
    "bootstrap_ci_hash",
    oracle=f"""
    WITH oc AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), res AS (
      SELECT r.range AS b, oc.cents
      FROM oc CROSS JOIN range({_BOOT_B}) r
      WHERE CAST('0x' || substr(md5(CAST(oc.o_orderkey AS VARCHAR) || '_'
                                    || CAST(r.range AS VARCHAR)), 1, 15)
                 AS BIGINT) % 2 = 0
    ), means AS (
      SELECT b, CAST(SUM(cents) AS BIGINT) // COUNT(*) AS m
      FROM res GROUP BY b
    ), ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
    ), full_m AS (
      SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) AS full_mean_c,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM oc
    )
    SELECT full_m.n_orders, full_m.full_mean_c,
           CAST({_BOOT_B} AS BIGINT) AS n_resamples,
           CAST(MIN(CASE WHEN rn = 3 THEN m END) AS BIGINT) AS ci_lo_c,
           CAST(MIN(CASE WHEN rn = {_BOOT_B - 2} THEN m END) AS BIGINT)
             AS ci_hi_c
    FROM ranked CROSS JOIN full_m
    GROUP BY full_m.n_orders, full_m.full_mean_c
    """,
    doc="Resampling inference with zero randomness at query time: a "
        "deterministic hash-bootstrap (half-sampling: order o joins "
        "resample b iff md5(o||b) is even — 50 reproducible subsamples) "
        "yields the empirical 5th/95th-percentile CI for mean order value, "
        "integer cents throughout. The md5 60-bit trick is the repo's "
        "portable cross-engine hash, so DuckDB replays the exact member "
        "sets. Scale: the fact scan fans out x B through a generated "
        "column (no shuffle until the B-group aggregate, which map-side "
        "combines to B partial rows per task); rank-of-50 is driver-free. "
        "Completes the stats family (point estimates, tests, drift) with "
        "distribution-free interval estimation",
)
def q_bootstrap_ci_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = _BOOT_B
    oc = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents_nonneg(F.col("o_totalprice")).alias("cents"))
    res = (
        oc.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .where(
            F.expr(
                "conv(substr(md5(cast(concat(cast(o_orderkey as string), "
                "'_', cast(b as string)) as binary)), 1, 15), 16, 10)"
            ).cast("long") % 2 == 0)
    )
    means = res.groupBy("b").agg(
        F.expr("sum(cents) DIV count(*)").cast("long").alias("m"))
    ranked = means.select(
        "m", F.row_number().over(bounded_window("m", "b")).alias("rn"))
    ci = ranked.agg(
        F.min(F.when(F.col("rn") == 3, F.col("m"))).cast("long")
        .alias("ci_lo_c"),
        F.min(F.when(F.col("rn") == B - 2, F.col("m"))).cast("long")
        .alias("ci_hi_c"))
    full = oc.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("sum(cents) DIV count(*)").cast("long").alias("full_mean_c"))
    return full.crossJoin(F.broadcast(ci)).select(
        "n_orders", "full_mean_c",
        F.lit(B).cast("long").alias("n_resamples"), "ci_lo_c", "ci_hi_c")


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource API (user-defined source, S-family depth)
# ---------------------------------------------------------------------------

@register(
    "python_datasource_scan",
    oracle="""
    SELECT CAST((r.range * r.range) % 97 AS BIGINT) AS val,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r.range) AS BIGINT) AS sum_id
    FROM range(10000) r GROUP BY 1
    """,
    doc="User-defined source through the public Spark 4 Python DataSource "
        "API (pyspark.sql.datasource, sources/pydatasource.py): a "
        "registered format('synth_quadratic') whose reader declares 8 "
        "InputPartitions, each generating its id-range on the EXECUTOR "
        "(no driver-side rows), then a plain DataFrame aggregate over the "
        "scan. The oracle regenerates the deterministic relation from "
        "range(). Scale: partitions() is the parallelism contract — a "
        "real source (paginated API, custom format) splits the same way "
        "and scales like a file scan; row yields would become "
        "pyarrow.RecordBatch yields for vectorized reads",
)
def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.pydatasource import HAVE_PY_DATASOURCE, SynthQuadraticSource

    if not HAVE_PY_DATASOURCE:  # pragma: no cover - pyspark < 4
        raise NotImplementedError("Python DataSource API needs pyspark >= 4")
    spark.dataSource.register(SynthQuadraticSource)
    df = spark.read.format("synth_quadratic").load()
    return df.groupBy(
        F.col("val").cast("long").alias("val")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("id").cast("long").alias("sum_id"),
    )


# ---------------------------------------------------------------------------
# Paired nonparametric test: Wilcoxon signed-rank statistic
# ---------------------------------------------------------------------------

@register(
    "wilcoxon_signed_rank",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), span AS (
      SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e
    ), pairs AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN day <  mid THEN cents ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END)
                  AS BIGINT) AS b
      FROM e CROSS JOIN span GROUP BY user_id
    ), d AS (
      SELECT b - a AS diff, abs(b - a) AS ad FROM pairs WHERE b - a != 0
    ), r AS (
      SELECT diff,
             2 * RANK() OVER (ORDER BY ad)
               + COUNT(*) OVER (PARTITION BY ad) - 1 AS rank_x2
      FROM d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN diff > 0 THEN rank_x2 ELSE 0 END) AS BIGINT)
             AS w_plus_x2,
           CAST(SUM(CASE WHEN diff < 0 THEN rank_x2 ELSE 0 END) AS BIGINT)
             AS w_minus_x2
    FROM r
    """,
    doc="Wilcoxon signed-rank test statistic for paired samples: each "
        "user's purchase spend in the first vs second half of the "
        "observation span forms a pair; zero diffs drop (standard "
        "Wilcoxon), tied |diff| ranks get the average rank — carried as "
        "2x-scaled INTEGERS (2*min_rank + ties - 1 == twice the average "
        "rank), so W+ and W- are exact and the hash cannot drift. "
        "Completes the paired branch of the nonparametric family "
        "(mann_whitney_u is the unpaired one). Scale: one filtered scan, "
        "a user-keyed aggregate, and a rank window over the (small) pair "
        "set; the span scalar is a broadcast literal",
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", F.expr("ts_nanos div 86400000000000").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    span = e.agg(F.expr("(min(day) + max(day) + 1) DIV 2").alias("mid"))
    pairs = e.crossJoin(F.broadcast(span)).groupBy("user_id").agg(
        F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents"))
              .otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("day") >= F.col("mid"), F.col("cents"))
              .otherwise(0)).cast("long").alias("b"))
    d = pairs.select(
        (F.col("b") - F.col("a")).alias("diff"),
        F.abs(F.col("b") - F.col("a")).alias("ad"),
    ).where(F.col("diff") != 0)
    r = d.select(
        "diff",
        (2 * F.rank().over(bounded_window("ad"))
         + F.count("*").over(Window.partitionBy("ad")) - 1)
        .cast("long").alias("rank_x2"))
    return r.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("diff") > 0, F.col("rank_x2")).otherwise(0))
        .cast("long").alias("w_plus_x2"),
        F.sum(F.when(F.col("diff") < 0, F.col("rank_x2")).otherwise(0))
        .cast("long").alias("w_minus_x2"))


# ---------------------------------------------------------------------------
# Matryoshka embeddings: prefix-dimension energy retention
# ---------------------------------------------------------------------------

@register(
    "matryoshka_truncation_error",
    oracle="""
    WITH x AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1048576) AS BIGINT)) AS q
      FROM embeddings
    ), s AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(q[1:16],  v -> v*v)) AS BIGINT)
               AS s16,
             CAST(list_sum(list_transform(q[1:32],  v -> v*v)) AS BIGINT)
               AS s32,
             CAST(list_sum(list_transform(q,        v -> v*v)) AS BIGINT)
               AS s64
      FROM x
    ), u AS (
      SELECT 16 AS dims, s16 * 1000000 // s64 AS ppm FROM s
      UNION ALL SELECT 32, s32 * 1000000 // s64 FROM s
      UNION ALL SELECT 64, s64 * 1000000 // s64 FROM s
    )
    SELECT CAST(dims AS BIGINT) AS dims,
           CAST(SUM(ppm) AS BIGINT) // COUNT(*) AS avg_energy_ppm,
           CAST(MIN(ppm) AS BIGINT) AS min_energy_ppm,
           CAST(COUNT(*) FILTER (WHERE ppm < 500000) AS BIGINT)
             AS n_below_half
    FROM u GROUP BY dims
    """,
    doc="Matryoshka-representation audit: how much of each embedding's "
        "L2 energy survives truncation to the first 16/32/64 dims "
        "(cos^2 between the full vector and its zero-padded prefix equals "
        "the prefix energy ratio — no sqrt needed, so the whole metric is "
        "exact integer: 2^20 fixed-point squares, ppm ratios). The "
        "go/no-go analysis for serving truncated embeddings at lower "
        "memory. Scale: scan-stage array math (one pass, no shuffle "
        "before the 3-group aggregate); the same fixed-point discipline "
        "as pq_fixed_topk makes the oracle bit-exact",
)
def q_matryoshka_truncation_error(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, "
               "v -> CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT))")
        .alias("q"))
    s = emb.select(
        "vec_id",
        F.expr("aggregate(slice(q, 1, 16), 0L, (acc, v) -> acc + v*v)")
        .alias("s16"),
        F.expr("aggregate(slice(q, 1, 32), 0L, (acc, v) -> acc + v*v)")
        .alias("s32"),
        F.expr("aggregate(q, 0L, (acc, v) -> acc + v*v)").alias("s64"))
    u = None
    for dims, col in ((16, "s16"), (32, "s32"), (64, "s64")):
        part = s.select(
            F.lit(dims).cast("long").alias("dims"),
            F.expr(f"{col} * 1000000 DIV s64").alias("ppm"))
        u = part if u is None else u.unionByName(part)
    return u.groupBy("dims").agg(
        F.expr("sum(ppm) DIV count(*)").cast("long")
        .alias("avg_energy_ppm"),
        F.min("ppm").cast("long").alias("min_energy_ppm"),
        F.count(F.when(F.col("ppm") < 500000, 1)).cast("long")
        .alias("n_below_half"))


# ---------------------------------------------------------------------------
# OLAP reporting: day-of-week x hour occupancy heatmap
# ---------------------------------------------------------------------------

@register(
    "dow_hour_heatmap",
    oracle="""
    WITH e AS (
      SELECT user_id,
             (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hour
      FROM events
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e GROUP BY dow, hour
    """,
    doc="Day-of-week x hour activity heatmap (the ops-dashboard staple): "
        "both axes from pure integer epoch arithmetic — dow = (epoch_day "
        "+ 3) mod 7 (1970-01-01 was a Thursday; Monday = 0) — zero "
        "calendar/timezone machinery, so the result is identical under "
        "any session timezone. Scale: one scan, one 168-key aggregate "
        "with map-side partials + a distinct-count expand; output size "
        "is fixed at 7x24 regardless of fact volume",
)
def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(ts_nanos div 86400000000000 + 3) % 7").alias("dow"),
        F.expr("(ts_nanos div 3600000000000) % 24").alias("hour"))
    return e.groupBy("dow", "hour").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"))


# ---------------------------------------------------------------------------
# Sketch algebra: HLL intersection via inclusion-exclusion, bracket-graded
# ---------------------------------------------------------------------------

@register(
    "hll_intersection_bracket",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase'),
    x AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
             CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION
                                         SELECT * FROM b)) AS BIGINT)
               AS exact_union,
             CAST((SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT
                                         SELECT * FROM b)) AS BIGINT)
               AS exact_inter
    )
    SELECT exact_a, exact_b, exact_union, exact_inter, TRUE AS within
    FROM x
    """,
    doc="Sketch ALGEBRA beyond union: HLL sketches only merge by union, "
        "so the intersection comes from inclusion-exclusion est(A) + "
        "est(B) - est(AUB) — three estimates whose errors ADD, which is "
        "why the in-engine guarantee bracket is scaled to the UNION size "
        "(|err| * 10 <= exact_union + 10, >3 sigma at lgK=12's ~1.6% "
        "rsd). Only the deterministic exact values + the verdict are "
        "emitted (the heavy_hitters_guarantee evidence pattern). Scale: "
        "sketch-side is two filtered scans + one union-merge — the 100 TB "
        "path never rescans facts; the exact side exists only as the "
        "test-SF oracle",
)
def q_hll_intersection_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    ska = a.agg(F.expr("hll_sketch_agg(user_id)").alias("sk"),
                F.countDistinct("user_id").cast("long").alias("exact_a"))
    skb = b.agg(F.expr("hll_sketch_agg(user_id)").alias("sk"),
                F.countDistinct("user_id").cast("long").alias("exact_b"))
    sku = (
        a.unionByName(b)
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sku"),
             F.countDistinct("user_id").cast("long").alias("exact_union"))
    )
    inter = a.intersect(b).agg(
        F.count("*").cast("long").alias("exact_inter"))
    est = (
        ska.crossJoin(skb.withColumnRenamed("sk", "skb"))
        .crossJoin(sku).crossJoin(F.broadcast(inter))
        .select(
            "exact_a", "exact_b", "exact_union", "exact_inter",
            (F.expr("CAST(hll_sketch_estimate(sk) AS BIGINT)")
             + F.expr("CAST(hll_sketch_estimate(skb) AS BIGINT)")
             - F.expr("CAST(hll_sketch_estimate(sku) AS BIGINT)"))
            .alias("est_inter"))
    )
    return est.select(
        "exact_a", "exact_b", "exact_union", "exact_inter",
        (F.abs(F.col("est_inter") - F.col("exact_inter")) * 10
         <= F.col("exact_union") + 10).alias("within"))


# ---------------------------------------------------------------------------
# ML evaluation: k-NN label accuracy (fixed-point, exact oracle)
# ---------------------------------------------------------------------------

_KNN_NQ = 50
_KNN_K = 5


@register(
    "knn_label_accuracy",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1048576) AS BIGINT)) AS q
      FROM embeddings
    ), qs AS (SELECT * FROM x WHERE vec_id < {_KNN_NQ}),
    tr AS (SELECT * FROM x WHERE vec_id >= {_KNN_NQ}),
    d AS (
      SELECT qs.vec_id AS qid, qs.label AS qlabel, tr.label AS tlabel,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (qs.q[i] - tr.q[i]) * (qs.q[i] - tr.q[i])))
                  AS BIGINT) AS l2,
             tr.vec_id AS tid
      FROM qs CROSS JOIN tr
    ), topk AS (
      SELECT qid, qlabel, tlabel FROM d
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2, tid)
              <= {_KNN_K}
    ), votes AS (
      SELECT qid, qlabel, tlabel, COUNT(*) AS c FROM topk
      GROUP BY qid, qlabel, tlabel
    ), pred AS (
      SELECT qid, qlabel, tlabel AS plabel FROM votes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, tlabel)
              = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm
    FROM pred
    """,
    doc="k-NN classification accuracy (the ML-eval complement to "
        "cosine_topk's retrieval): 50 held-out query vectors classified "
        "by 5-nearest-neighbor majority vote over the rest, exact "
        "fixed-point L2 (2^20 scale), deterministic ties (distance then "
        "id; vote count then label). Scale: the query set is bounded and "
        "BROADCAST, so the 'cross join' is a map-side broadcast "
        "nested-loop over the train scan — one pass, no shuffle until "
        "the per-query top-k (partial TakeOrdered per partition); the "
        "unbounded-both-sides case is what ivf/lsh/pq_topk exist for",
)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(embedding, "
               "v -> CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT))")
        .alias("q"))
    qs = emb.where(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.col("q").alias("qq"))
    tr = emb.where(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("tid"), F.col("label").alias("tlabel"), "q")
    d = tr.crossJoin(F.broadcast(qs)).select(
        "qid", "qlabel", "tlabel", "tid",
        F.expr("aggregate(zip_with(qq, q, (a, b) -> (a - b) * (a - b)), "
               "0L, (acc, v) -> acc + v)").alias("l2"))
    w = Window.partitionBy("qid").orderBy("l2", "tid")
    topk = d.withColumn("rn", F.row_number().over(w)).where(
        (F.col("rn") <= _KNN_K))
    votes = topk.groupBy("qid", "qlabel", "tlabel").agg(
        F.count("*").alias("c"))
    wv = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("tlabel"))
    pred = votes.withColumn("rn", F.row_number().over(wv)).where(
        F.col("rn") == 1)
    return pred.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum(F.when(F.col("qlabel") == F.col("tlabel"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.expr("sum(CASE WHEN qlabel = tlabel THEN 1 ELSE 0 END) "
               "* 1000000 DIV count(*)").cast("long").alias("acc_ppm"))


# ---------------------------------------------------------------------------
# Knee/elbow detection on the power-user curve (Kneedle chord distance)
# ---------------------------------------------------------------------------

@register(
    "knee_point_power_users",
    oracle="""
    WITH per AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), r AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS BIGINT)
               AS k,
             CAST(SUM(c) OVER (ORDER BY c DESC, user_id) AS BIGINT) AS sk
      FROM per
    ), tot AS (
      SELECT CAST(MAX(k) AS BIGINT) AS n, CAST(MAX(sk) AS BIGINT) AS s,
             CAST(MIN(sk) AS BIGINT) AS s1
      FROM r
    ), d AS (
      SELECT k, sk,
             (n - 1) * (sk - s1) - (k - 1) * (s - s1) AS cross_v, n, s
      FROM r CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(s AS BIGINT) AS total_events,
           CAST(k AS BIGINT) AS knee_rank,
           CAST(sk AS BIGINT) AS knee_cum_events,
           CAST(cross_v AS BIGINT) AS chord_cross_max
    FROM d ORDER BY cross_v DESC, k LIMIT 1
    """,
    doc="Knee/elbow detection (Kneedle chord method) on the power-user "
        "curve: rank users by activity, take the cumulative-events curve, "
        "and report the rank maximizing the distance to the chord from "
        "first to last point — the principled 'where does the heavy tail "
        "start' cutoff used for cache sizing, skew-key selection and "
        "curation budgets. The perpendicular distance is monotone in the "
        "integer cross product (n-1)(S_k - S_1) - (k-1)(S_n - S_1), so "
        "the argmax is EXACT integer math with a deterministic (cross, "
        "rank) tie-break. Scale: the curve lives on the post-aggregate "
        "per-user relation (one fact shuffle); the single-partition "
        "window is over users-not-events; for 1e9+ users the same cross "
        "product runs per-partition with a 2-row chord broadcast. "
        "Complement to power_user_curve (the curve) and "
        "lorenz_concentration (the area)",
)
def q_knee_point_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").cast("long").alias("c"))
    w = bounded_window(F.col("c").desc(), F.col("user_id"))
    r = per.select(
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("sk"))
    tot = r.agg(F.max("k").cast("long").alias("n"),
                F.max("sk").cast("long").alias("s"),
                F.min("sk").cast("long").alias("s1"))
    d = r.crossJoin(F.broadcast(tot)).select(
        "k", "sk", "n", "s",
        F.expr("(n - 1) * (sk - s1) - (k - 1) * (s - s1)")
        .alias("cross_v"))
    return (
        d.orderBy(F.col("cross_v").desc(), F.col("k")).limit(1)
        .select(F.col("n").alias("n_users"),
                F.col("s").alias("total_events"),
                F.col("k").alias("knee_rank"),
                F.col("sk").alias("knee_cum_events"),
                F.col("cross_v").cast("long").alias("chord_cross_max"))
    )


# ---------------------------------------------------------------------------
# Spark 4 native XML surface (from_xml + xpath), round-trip oracled
# ---------------------------------------------------------------------------

@register(
    "xml_roundtrip_extract",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_xpath_agree
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Spark 4 native XML surface: each order is serialized to an XML "
        "payload (deterministic concat of its own columns), parsed back "
        "with schema-declared from_xml (single JVM-side parse — the XML "
        "sibling of json_extract_agg's from_json discipline) AND "
        "independently probed with xpath_string; the aggregate groups on "
        "the PARSED struct fields and counts xpath/from_xml agreement. "
        "The oracle computes the same aggregate from the source columns — "
        "a round-trip identity, so any parser drift breaks the hash. "
        "Scale: serialize+parse are scan-stage codegen expressions, one "
        "5-group aggregate; no UDF, no shuffle beyond the groupBy",
)
def q_xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.concat(
            F.lit("<o><k>"), F.col("o_orderkey").cast("string"),
            F.lit("</k><p>"), F.col("o_orderpriority"),
            F.lit("</p><t>"),
            cents_nonneg(F.col("o_totalprice"))
            .cast("string"),
            F.lit("</t></o>"),
        ).alias("xml"))
    parsed = o.select(
        "xml",
        F.from_xml(
            "xml", "struct<k: bigint, p: string, t: bigint>"
        ).alias("s"))
    return parsed.groupBy(F.col("s.p").alias("priority")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("s.t").cast("long").alias("total_cents"),
        F.count(F.when(
            F.expr("xpath_string(xml, '/o/p/text()')") == F.col("s.p"), 1
        )).cast("long").alias("n_xpath_agree"))


# ---------------------------------------------------------------------------
# Round-7 live additions (registered this round; the window math allows up
# to 30 new never-green entries on top of the 20-query staged wave)
# ---------------------------------------------------------------------------

# BPE fixed-vocab twin: DuckDB replays the ENTIRE training loop as a
# single-row recursive CTE whose state is (merge table, vocabulary) carried
# as LIST values. Per iteration: pair counts via nested list lambdas over
# the vocab list, winner = list_sort on (-count, l, r) structs, and the
# merge applied with the exact greedy left-to-right non-overlapping rule —
# including the self-pair run-parity case (merge position i iff matched and
# (i - run_start) is even), so the oracle is NOT specialized to the pairs
# the data happens to produce. Pairs are keyed l||'|'||r (symbols are
# [a-z]+ by construction; list_distinct over STRUCTs is unimplemented in
# this DuckDB).
_BPE_FIX_MERGEAT = """
 (v.s[{i}] = b.l AND v.s[{i}+1] = b.r)
 AND ((({i}) - (1 + coalesce(list_max(list_filter(range(1, {i}),
        j -> NOT (v.s[j] = b.l AND v.s[j+1] = b.r))), 0))) % 2 = 0)
"""

_BPE_FIX_BEST = """
list_sort(
  list_transform(
    list_transform(
      list_distinct(flatten(list_transform(vocab, v ->
        list_transform(range(1, len(v.s)), i -> v.s[i] || '|' || v.s[i+1])))),
      k -> struct_pack(l := string_split(k, '|')[1],
                       r := string_split(k, '|')[2])),
    p -> struct_pack(
      nc := -CAST(list_sum(list_transform(vocab, v ->
              v.f * len(list_filter(range(1, len(v.s)),
                        i -> v.s[i] = p.l AND v.s[i+1] = p.r)))) AS BIGINT),
      l := p.l, r := p.r)
  )
)[1]
"""

_BPE_FIX_NEWVOCAB = """
list_transform(vocab, v ->
  struct_pack(f := v.f,
    s := flatten(list_transform(range(1, len(v.s) + 1), i ->
      CASE
        WHEN i < len(v.s) AND ({m_i}) THEN [b.l || b.r]
        WHEN i > 1 AND ({m_im1}) THEN []
        ELSE [v.s[i]]
      END))))
""".format(m_i=_BPE_FIX_MERGEAT.format(i="i"),
           m_im1=_BPE_FIX_MERGEAT.format(i="(i-1)"))

_BPE_FIX_MERGES = 12
_BPE_FIX_WORDS = 60

_BPE_FIX_ORACLE = f"""
WITH RECURSIVE
tok AS (
  SELECT t.w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE regexp_matches(t.w, '^[a-z]{{2,12}}$')
  GROUP BY t.w
  ORDER BY freq DESC, t.w
  LIMIT {_BPE_FIX_WORDS}
),
base AS (
  SELECT list(struct_pack(
           f := freq,
           s := list_transform(range(1, length(word) + 1), i -> word[i])
         )) AS vocab
  FROM tok
),
step AS (
  SELECT 0 AS it,
         CAST([] AS STRUCT(rank BIGINT, l VARCHAR, r VARCHAR, cnt BIGINT)[])
           AS ms,
         vocab
  FROM base
  UNION ALL
  SELECT it + 1,
         list_transform([{_BPE_FIX_BEST}], b -> list_append(ms,
           struct_pack(rank := CAST(it AS BIGINT), l := b.l, r := b.r,
                       cnt := -b.nc)))[1],
         list_transform([{_BPE_FIX_BEST}], b -> {_BPE_FIX_NEWVOCAB})[1]
  FROM step
  WHERE it < {_BPE_FIX_MERGES}
)
SELECT m.rank AS rank, m.l AS l_sym, m.r AS r_sym, m.cnt AS cnt
FROM (SELECT unnest(ms) AS m FROM step WHERE it = {_BPE_FIX_MERGES})
ORDER BY rank
"""


@register(
    "bpe_train_merges_fixed",
    oracle=_BPE_FIX_ORACLE,
    doc="BPE training promoted to hash-grade (the r6 verdict ask): the "
        "REAL distributed trainer (operators/bpe.py train_bpe — zip_with "
        "pair counting, Catalyst merge fold, provably-safe merge batching; "
        "driver_finish_rows=0 forces the distributed path) runs 12 merges "
        "over a bounded deterministic vocabulary (top-60 lowercase "
        "whitespace tokens of `documents` by (freq DESC, word ASC) — "
        "data-derived, so the oracle needs no inlined literals), and "
        "DuckDB independently replays the whole training loop as a "
        "single-row recursive CTE over LIST-typed state, incl. the "
        "self-pair greedy-parity merge rule. Any drift in pair counting, "
        "tie-breaking, batching safety, or the merge fold breaks the "
        "hash. Scale: the trainer's working set is the distinct-word "
        "table (Heaps-law small); the bounded vocab here is the oracle "
        "harness, not an operator limit",
)
def q_bpe_train_merges_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{2,12}$"))
        .groupBy("word").agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "word").limit(_BPE_FIX_WORDS)
    )
    merges, _ = train_bpe(
        spark, None, n_merges=_BPE_FIX_MERGES,
        driver_finish_rows=0, words=words,
    )
    return spark.createDataFrame(
        [(int(r), l, rr, int(c)) for r, l, rr, c in merges],
        "rank long, l_sym string, r_sym string, cnt long",
    ).orderBy("rank")


@register(
    "kendall_tau_daily",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-04-01'
      GROUP BY day
    ), p AS (
      SELECT CAST(COUNT(*) FILTER (WHERE b.cents > a.cents) AS BIGINT) AS nc,
             CAST(COUNT(*) FILTER (WHERE b.cents < a.cents) AS BIGINT) AS nd,
             CAST(COUNT(*) FILTER (WHERE b.cents = a.cents) AS BIGINT) AS ty
      FROM d a JOIN d b ON b.day > a.day
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM d)
    SELECT n_days, nc, nd, ty,
           CAST(floor(CAST((nc - nd) AS DOUBLE) * 1000000 /
                sqrt(CAST((nc + nd + ty) AS DOUBLE) *
                     CAST((nc + nd) AS DOUBLE))) AS BIGINT) AS tau_b_ppm
    FROM p, n
    """,
    doc="Kendall tau-b rank correlation of (day, daily revenue) over a "
        "91-day window — the concordance-based complement to the existing "
        "Spearman query. Exact integer concordant/discordant/tied counts "
        "from the bounded day-pair join (grouped days are unique in x, so "
        "tx=0 and tau-b needs only the y-tie term), then ONE double "
        "expression (int casts, *, /, sqrt are correctly-rounded IEEE -> "
        "bit-identical cross-engine) floored to ppm. Scale: the pair join "
        "is over the ~91-row daily aggregate, never the fact table; the "
        "fact scan is one map-side-combined groupBy",
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    d = o.groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("cents")
    )
    a = d.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = d.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    p = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.count(F.when(F.col("cb") > F.col("ca"), 1))
            .cast("long").alias("nc"),
            F.count(F.when(F.col("cb") < F.col("ca"), 1))
            .cast("long").alias("nd"),
            F.count(F.when(F.col("cb") == F.col("ca"), 1))
            .cast("long").alias("ty"),
        )
    )
    n = d.agg(F.count("*").cast("long").alias("n_days"))
    return p.crossJoin(F.broadcast(n)).select(
        "n_days", "nc", "nd", "ty",
        F.floor(
            (F.col("nc") - F.col("nd")).cast("double") * 1000000
            / F.sqrt(
                (F.col("nc") + F.col("nd") + F.col("ty")).cast("double")
                * (F.col("nc") + F.col("nd")).cast("double")
            )
        ).cast("long").alias("tau_b_ppm"),
    )


@register(
    "cohens_kappa_gates",
    oracle="""
    WITH g AS (
      SELECT (n_chars BETWEEN 200 AND 8000) AS g_len,
             (100 * ((length(' ' || text || ' ')
                      - length(replace(' ' || text || ' ', ' the ', '')))
                     // 5
                     + (length(' ' || text || ' ')
                        - length(replace(' ' || text || ' ', ' and ', '')))
                     // 5)
              >= 2 * len(string_split(text, ' '))) AS g_stop
      FROM documents
    ), c AS (
      SELECT CAST(COUNT(*) FILTER (WHERE g_len AND g_stop) AS BIGINT) AS a,
             CAST(COUNT(*) FILTER (WHERE g_len AND NOT g_stop) AS BIGINT)
               AS b,
             CAST(COUNT(*) FILTER (WHERE NOT g_len AND g_stop) AS BIGINT)
               AS c,
             CAST(COUNT(*) FILTER (WHERE NOT g_len AND NOT g_stop)
                  AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM g
    )
    SELECT a, b, c, d,
           CASE WHEN n * n = (a + b) * (a + c) + (c + d) * (b + d) THEN 0
                ELSE (n * (a + d)
                      - ((a + b) * (a + c) + (c + d) * (b + d))) * 1000000
                     // (n * n
                         - ((a + b) * (a + c) + (c + d) * (b + d)))
           END AS kappa_ppm
    FROM c
    """,
    doc="Cohen's kappa inter-rater agreement between two independent "
        "document quality gates (a length gate and a stopword-density "
        "gate): the standard audit for whether two cheap corpus filters "
        "measure the same thing or complement each other. The confusion "
        "matrix is exact integer counts; kappa = (po-pe)/(1-pe) is "
        "computed entirely in cleared-denominator int64 arithmetic "
        "(n(a+d) - sum-of-marginal-products over n^2 - same), truncated "
        "to ppm with `div`/`//` (both engines truncate toward zero). "
        "Stopword hits count non-overlapping ' the '/' and ' occurrences "
        "via the length-after-replace identity — no regex, no UDF. "
        "Scale: one fact scan, one global aggregate, all scan-stage "
        "codegen expressions",
)
def q_cohens_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))

    def hits(word: str):
        pat = f" {word} "
        return (
            (F.length(padded)
             - F.length(F.replace(padded, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))
        ).cast("long")

    g = docs.select(
        F.col("n_chars").between(200, 8000).alias("g_len"),
        (
            100 * (hits("the") + hits("and"))
            >= 2 * F.size(F.split("text", " "))
        ).alias("g_stop"),
    )
    c = g.agg(
        F.count(F.when(F.col("g_len") & F.col("g_stop"), 1))
        .cast("long").alias("a"),
        F.count(F.when(F.col("g_len") & ~F.col("g_stop"), 1))
        .cast("long").alias("b"),
        F.count(F.when(~F.col("g_len") & F.col("g_stop"), 1))
        .cast("long").alias("c"),
        F.count(F.when(~F.col("g_len") & ~F.col("g_stop"), 1))
        .cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    pe_num = (
        (F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")) * (F.col("b") + F.col("d"))
    )
    return c.select(
        "a", "b", "c", "d",
        F.when(F.col("n") * F.col("n") == pe_num, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "(n * (a + d) - ((a+b)*(a+c) + (c+d)*(b+d))) * 1000000"
                " div (n * n - ((a+b)*(a+c) + (c+d)*(b+d)))"
            )
        ).cast("long").alias("kappa_ppm"),
    )


@register(
    "iso_week_rollup",
    oracle="""
    SELECT isoyear(CAST(o_orderdate AS DATE)) AS iso_year,
           week(CAST(o_orderdate AS DATE)) AS iso_week,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                // COUNT(*) AS BIGINT) AS cents_per_order
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="ISO-8601 week business rollup: orders bucketed by (ISO year, ISO "
        "week) — the boundary-sensitive calendar surface (Jan 1 can be "
        "week 52/53 of the PREVIOUS iso-year, Dec 29-31 can be week 1 of "
        "the NEXT; probed cross-engine on exactly those boundary dates "
        "before registration). Spark weekofyear/extract(YEAROFWEEK) vs "
        "DuckDB week/isoyear agree date-for-date. Money in integer "
        "cents; per-order average via truncating integer division. "
        "Scale: one map-side-combined groupBy on derived scan-stage "
        "columns",
)
def q_iso_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.groupBy(
            F.expr("extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE))")
            .cast("long").alias("iso_year"),
            F.weekofyear(d).cast("long").alias("iso_week"),
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(cents_nonneg(F.col("o_totalprice")))
            .cast("long").alias("cents"),
        )
        .select(
            "iso_year", "iso_week", "n_orders", "cents",
            F.expr("cents div n_orders").cast("long")
            .alias("cents_per_order"),
        )
        .orderBy("iso_year", "iso_week")
    )


@register(
    "span_corruption_plan",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), f AS (
      SELECT doc_id, source, n_tok,
             greatest(1, (n_tok * 15 // 100) // 3) AS n_spans
      FROM d WHERE n_tok >= 20
    ), s AS (
      SELECT f.doc_id, f.source, f.n_tok, f.n_spans,
             1 + (CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR) || ':'
                       || CAST(i.i AS VARCHAR)), 1, 15) AS BIGINT)
                  % (f.n_tok - 2)) AS start
      FROM f, unnest(range(1, f.n_spans + 1)) AS i(i)
    ), pos AS (
      SELECT DISTINCT doc_id, source, start + o.o AS p
      FROM s, unnest([0, 1, 2]) AS o(o)
    ), per_doc AS (
      SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM pos GROUP BY doc_id, source
    ), toks AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
             CAST(SUM(n_spans) AS BIGINT) AS tot_spans
      FROM f GROUP BY source
    ), cov AS (
      SELECT source, CAST(SUM(n_pos) AS BIGINT) AS tot_pos
      FROM per_doc GROUP BY source
    )
    SELECT t.source, t.n_docs, t.tot_tok, t.tot_spans, c.tot_pos,
           c.tot_pos * 1000000 // t.tot_tok AS corruption_ppm
    FROM toks t JOIN cov c ON c.source = t.source
    ORDER BY t.source
    """,
    doc="T5-style span-corruption planning (Raffel et al. JMLR'20 "
        "pretraining objective): for each doc with >= 20 whitespace "
        "tokens, plan floor(0.15*n_tok)/3 length-3 corruption spans at "
        "positions derived from the portable 60-bit md5 hash of "
        "(doc_id, span_index) — fully deterministic, replayable in "
        "DuckDB, no RNG state. Spans may collide; realized coverage = "
        "COUNT(DISTINCT covered position) per doc, rolled up per source "
        "with the target-vs-realized corruption rate in ppm (integer "
        "division). Scale: the span fan-out is a bounded fraction "
        "(~0.15) of token count, the distinct is (doc_id, pos)-keyed, "
        "and everything else is two-phase aggregation; no UDF",
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    f = d.filter(F.col("n_tok") >= 20).select(
        "doc_id", "source", "n_tok",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(n_tok * 15 div 100) div 3"),
        ).alias("n_spans"),
    )
    f = f.localCheckpoint(eager=True)  # two consumers: spans + token sums
    s = f.select(
        "doc_id", "source", "n_tok",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_spans")))
        .alias("i"),
    ).select(
        "doc_id", "source",
        (
            1 + portable_hash60(F.concat_ws(":", "doc_id", "i"))
            % (F.col("n_tok") - 2)
        ).alias("start"),
    )
    pos = (
        s.select(
            "doc_id", "source",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("o"),
            "start",
        )
        .select("doc_id", "source",
                (F.col("start") + F.col("o")).alias("p"))
        .distinct()
    )
    cov = pos.groupBy("source").agg(
        F.count("*").cast("long").alias("tot_pos")
    )
    toks = f.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tot_tok"),
        F.sum("n_spans").cast("long").alias("tot_spans"),
    )
    return (
        toks.join(cov, "source")
        .select(
            "source", "n_docs", "tot_tok", "tot_spans", "tot_pos",
            F.expr("tot_pos * 1000000 div tot_tok").cast("long")
            .alias("corruption_ppm"),
        )
        .orderBy("source")
    )


@register(
    "curriculum_interleave",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), b AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok < 50 THEN 0 WHEN n_tok < 200 THEN 1
                  ELSE 2 END AS bucket,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM d
    ), r AS (
      SELECT bucket, doc_id, n_tok,
             CAST(ROW_NUMBER() OVER (PARTITION BY bucket
                                     ORDER BY h, doc_id) AS BIGINT) AS rn
      FROM b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, rn, doc_id, n_tok
    FROM r WHERE rn <= 20
    ORDER BY rn, bucket
    """,
    doc="Curriculum-ordering plan: docs fall into difficulty buckets by "
        "token count (easy <50, medium <200, hard otherwise), are "
        "shuffled WITHIN each bucket by the portable md5 hash "
        "(deterministic pseudo-shuffle, replayable cross-engine), and "
        "interleaved round-robin easy->medium->hard by (rank, bucket) — "
        "the schedule a curriculum-learning data loader consumes. First "
        "20 rounds emitted. Scale: one bucket-partitioned window with a "
        "LITERAL rank bound, so InferWindowGroupLimit keeps a top-20 "
        "heap per bucket instead of a full per-bucket sort",
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    b = d.select(
        "doc_id", "n_tok",
        F.when(F.col("n_tok") < 50, 0)
        .when(F.col("n_tok") < 200, 1)
        .otherwise(2).cast("long").alias("bucket"),
        portable_hash60(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    return (
        b.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("bucket", "rn", "doc_id", "n_tok")
        .orderBy("rn", "bucket")
    )


@register(
    "k_anonymity_audit",
    oracle="""
    WITH e AS (
      SELECT user_id % 100 AS ub100, user_id % 10 AS ub10, event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hour
      FROM events
    ),
    l0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sz
      FROM e GROUP BY ub100, event_type, hour
    ),
    l1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sz
      FROM e GROUP BY ub10, event_type, hour // 6
    ),
    l2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sz
      FROM e GROUP BY event_type
    ),
    u AS (
      SELECT 0 AS level, * FROM l0
      UNION ALL SELECT 1, * FROM l1
      UNION ALL SELECT 2, * FROM l2
    )
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (WHERE sz < 5) AS BIGINT) AS n_small,
           CAST(COALESCE(SUM(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
             AS suppressed_rows,
           CAST(MIN(sz) AS BIGINT) AS min_group,
           CAST(COALESCE(SUM(sz) FILTER (WHERE sz < 5), 0) * 1000000
                // SUM(sz) AS BIGINT) AS suppressed_ppm
    FROM u GROUP BY level ORDER BY level
    """,
    doc="k-anonymity audit over a quasi-identifier generalization ladder "
        "(Sweeney'02 / Samarati'01): level 0 = (user bucket mod 100, "
        "event type, hour), level 1 coarsens to (bucket mod 10, type, "
        "6-hour band), level 2 keeps event type only. Per level: group "
        "count, groups below k=5, rows that would need suppression and "
        "their ppm share, and the achieved min group size — the exact "
        "report a release-readiness privacy gate consumes. Hours via "
        "epoch-microsecond arithmetic (timezone-proof, the dow_hour "
        "idiom). Scale: three map-side-combined groupBys over one scan "
        "union'd at aggregate (not fact) granularity",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("ub100"),
        (F.col("user_id") % 10).alias("ub10"),
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour"),
    )
    l0 = e.groupBy("ub100", "event_type", "hour").agg(
        F.count("*").cast("long").alias("sz")
    ).select("sz")
    l1 = e.groupBy(
        "ub10", "event_type", F.expr("hour div 6")
    ).agg(F.count("*").cast("long").alias("sz")).select("sz")
    l2 = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("sz")
    ).select("sz")
    u = (
        l0.select(F.lit(0).cast("long").alias("level"), "sz")
        .unionByName(l1.select(F.lit(1).cast("long").alias("level"), "sz"))
        .unionByName(l2.select(F.lit(2).cast("long").alias("level"), "sz"))
    )
    small = F.when(F.col("sz") < 5, F.col("sz"))
    return (
        u.groupBy("level")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.count(small).cast("long").alias("n_small"),
            F.coalesce(F.sum(small), F.lit(0)).cast("long")
            .alias("suppressed_rows"),
            F.min("sz").cast("long").alias("min_group"),
            (
                F.coalesce(F.sum(small), F.lit(0)) * 1000000
            ).alias("__num"),
            F.sum("sz").alias("__den"),
        )
        .select(
            "level", "n_groups", "n_small", "suppressed_rows", "min_group",
            F.expr("__num div __den").cast("long").alias("suppressed_ppm"),
        )
        .orderBy("level")
    )


# --- MaxSim late-interaction (ColBERT-style), fixed-point ------------------

def _maxsim_dot_sql(qoff: int, doff: int) -> str:
    return ("CAST(list_sum(list_transform(range(0, 16), k -> "
            f"q.qv[{qoff + 1} + k] * d.dv[{doff + 1} + k])) AS BIGINT)")


def _maxsim_oracle() -> str:
    per_sub = []
    for i in range(4):
        dots = ", ".join(_maxsim_dot_sql(16 * i, 16 * j) for j in range(4))
        per_sub.append(f"GREATEST({dots})")
    score = "\n             + ".join(per_sub)
    return f"""
    WITH fx AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM fx WHERE vec_id < 3),
    d AS (SELECT vec_id AS doc_id, v AS dv FROM fx),
    sc AS (
      SELECT q.query_id, d.doc_id,
             {score} AS score
      FROM q, d WHERE d.doc_id <> q.query_id
    )
    SELECT query_id, doc_id, score FROM (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rn
      FROM sc) WHERE rn <= 5
    ORDER BY query_id, doc_id
    """


@register(
    "maxsim_fixed_topk",
    oracle=_maxsim_oracle(),
    doc="MaxSim late-interaction retrieval (Khattab & Zaharia, SIGIR'20 "
        "ColBERT): each 64-dim embedding is treated as 4 x 16-dim token "
        "sub-vectors; score(q, d) = sum over query sub-vectors of the MAX "
        "dot product against any doc sub-vector — the interaction "
        "pattern single-vector cosine cannot express. Fixed-point "
        "floor(x*2^10) int64 domain makes every dot engine-exact, so the "
        "DuckDB oracle replays the scoring bit-for-bit. Per-query top-5 "
        "with literal rank bound. Scale: the 3-query side broadcasts "
        "(the production shape: bounded query batch vs corpus scan), all "
        "16 dots are scan-stage codegen folds over array slices, and the "
        "only shuffle is the per-query top-k window",
)
def q_maxsim_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import maxsim_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return maxsim_topk_fixed(d, q, "embedding", "doc_id", "query_id")


# --- BM25 with exact integer arithmetic ------------------------------------

@register(
    "bm25_int_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.w AS tok
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE regexp_matches(t.w, '^[a-z]{2,12}$')
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      FROM tok GROUP BY doc_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS BIGINT) AS tl
      FROM dl
    ),
    sel AS (
      SELECT tok AS term FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS r
        FROM tok GROUP BY tok) WHERE r IN (10, 20, 30)
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok JOIN sel ON tok.tok = sel.term GROUP BY term
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok JOIN sel ON tok.tok = sel.term GROUP BY doc_id, term
    ),
    sc AS (
      SELECT tf.doc_id,
             CAST(SUM(
               (length(bin(tot.n)) - length(bin(df.df)))
               * (22 * tf.tf * tot.tl * 10000
                  // (10 * tf.tf * tot.tl + 3 * tot.tl
                      + 9 * dl.dl * tot.n))
             ) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN df ON df.term = tf.term
      CROSS JOIN tot
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_terms
    FROM sc ORDER BY score DESC, doc_id LIMIT 15
    """,
    doc="BM25 ranking (Robertson-Sparck Jones family, k1=6/5, b=3/4) in "
        "EXACT integer arithmetic: the tf saturation term has its "
        "denominators cleared (22*tf*TL / (10*tf*TL + 3*TL + 9*dl*N), "
        "scaled 1e4, truncating division) and idf is the floor-log2 "
        "surrogate bitlen(N)-bitlen(df) (Spark length(conv(x,10,2)) == "
        "DuckDB length(bin(x))) — no transcendental anywhere, so the "
        "DuckDB oracle hash-matches the full pipeline: tokenize, "
        "doc-length, corpus totals, data-driven query-term selection "
        "(global freq ranks 10/20/30), df, tf, score, top-15. Scale: "
        "terms and totals broadcast; tf is one map-side-combined "
        "groupBy over the token stream; ORDER BY+LIMIT is TakeOrdered "
        "(per-partition heaps), never a global sort. int64 overflow "
        "under ANSI fails loudly rather than corrupting ranks",
)
def q_bm25_int_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_int_topk_df(_t(spark, sf_dir, "documents"))


def bm25_int_topk_df(docs: DataFrame) -> DataFrame:
    """Operator form of ``bm25_int_topk`` over any (doc_id, text)
    relation — shared by the registered query and the 100x stress
    harness (scripts/stress_retrieval.py)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").rlike("^[a-z]{2,12}$"))
    tok = tok.localCheckpoint(eager=True)  # 3 consumers: dl, term sel, tf
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    tot = dl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("tl"),
    )
    wr = bounded_window(F.desc("cnt"), "tok")
    sel = (
        tok.groupBy("tok").agg(F.count("*").alias("cnt"))
        .withColumn("r", F.row_number().over(wr))
        .filter(F.col("r").isin(10, 20, 30))
        .select(F.col("tok").alias("term"))
    )
    hit = tok.join(F.broadcast(sel), tok.tok == F.col("term")).select(
        "doc_id", "term"
    )
    df = hit.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    tf = hit.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    sc = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                (F.length(F.conv(F.col("n"), 10, 2))
                 - F.length(F.conv(F.col("df"), 10, 2))).cast("long")
                * F.expr(
                    "22 * tf * tl * 10000"
                    " div (10 * tf * tl + 3 * tl + 9 * dl * n)"
                )
            ).cast("long").alias("score"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    return sc.orderBy(F.desc("score"), "doc_id").limit(15)


# --- Reciprocal-rank fusion ------------------------------------------------

@register(
    "rrf_fusion_topk",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    r1 AS (
      SELECT user_id, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id)
                           AS BIGINT) AS r
      FROM p ORDER BY n DESC, user_id LIMIT 100
    ),
    r2 AS (
      SELECT user_id, CAST(ROW_NUMBER() OVER (ORDER BY cents DESC,
                                              user_id) AS BIGINT) AS r
      FROM p ORDER BY cents DESC, user_id LIMIT 100
    ),
    fused AS (
      SELECT COALESCE(r1.user_id, r2.user_id) AS user_id,
             COALESCE(1000000000000 // (60 + r1.r), 0)
             + COALESCE(1000000000000 // (60 + r2.r), 0) AS rrf,
             r1.r AS rank_count, r2.r AS rank_value
      FROM r1 FULL OUTER JOIN r2 ON r1.user_id = r2.user_id
    )
    SELECT user_id, rrf, rank_count, rank_value
    FROM fused ORDER BY rrf DESC, user_id LIMIT 20
    """,
    doc="Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two bounded "
        "retrieval lists — the standard way to merge rankings from "
        "different scorers (here: purchase count vs purchase value; the "
        "identical operator fuses BM25 and embedding top-k lists). Each "
        "list is a top-100 TakeOrdered (per-partition heaps, no global "
        "sort), ranks assigned inside the bounded list, fused score = "
        "sum of floor(1e12/(60+rank)) — integer division, engine-exact, "
        "list-absent contributes 0 via the full outer join. Scale: the "
        "only fact-sized work is one groupBy; everything after operates "
        "on 100-row lists",
)
def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long").alias("cents"),
        )
        .localCheckpoint(eager=True)  # two ranking consumers
    )
    r1 = (
        p.orderBy(F.desc("n"), "user_id").limit(100)
        .withColumn(
            "r",
            F.row_number().over(bounded_window(F.desc("n"), "user_id"))
            .cast("long"),
        )
        .select("user_id", "r")
    )
    r2 = (
        p.orderBy(F.desc("cents"), "user_id").limit(100)
        .withColumn(
            "r",
            F.row_number().over(
                bounded_window(F.desc("cents"), "user_id")
            ).cast("long"),
        )
        .select("user_id", "r")
    )
    fused = (
        r1.withColumnRenamed("r", "rank_count")
        .join(r2.withColumnRenamed("r", "rank_value"), "user_id", "full")
        .select(
            "user_id",
            (
                F.coalesce(
                    F.expr("1000000000000 div (60 + rank_count)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr("1000000000000 div (60 + rank_value)"), F.lit(0)
                )
            ).cast("long").alias("rrf"),
            "rank_count", "rank_value",
        )
    )
    return fused.orderBy(F.desc("rrf"), "user_id").limit(20)


# --- k-core decomposition (iterative peeling) ------------------------------

_KCORE_K = 3

_KCORE_ORACLE = f"""
    WITH RECURSIVE
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    peel AS (
      SELECT 0 AS it, p1, p2 FROM pr
      UNION ALL
      SELECT it + 1, p1, p2
      FROM (
        SELECT it, p1, p2,
               MIN(deg) OVER (PARTITION BY p1, p2) AS edge_min,
               MIN(deg) OVER () AS gmin
        FROM (
          SELECT it, p1, p2,
                 COUNT(*) OVER (PARTITION BY u.node) AS deg
          FROM peel, unnest([p1, p2]) AS u(node)
        )
      )
      WHERE gmin < {_KCORE_K} AND edge_min >= {_KCORE_K}
      GROUP BY it, p1, p2
    ),
    last AS (
      SELECT p1, p2 FROM peel WHERE it = (SELECT MAX(it) FROM peel)
    ),
    expand AS (
      SELECT l.p1, l.p2, COUNT(*) OVER (PARTITION BY u.node) AS deg
      FROM last l, unnest([l.p1, l.p2]) AS u(node)
    ),
    core AS (
      SELECT p1, p2 FROM expand
      GROUP BY p1, p2
      HAVING MIN(deg) >= {_KCORE_K}
         AND (SELECT MIN(deg) FROM expand) >= {_KCORE_K}
    ),
    und AS (SELECT p1 AS node FROM core UNION ALL SELECT p2 FROM core),
    nd AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM und GROUP BY node
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes FROM nd),
    te AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_core_edges FROM core),
    top AS (
      SELECT node, core_deg FROM nd
      ORDER BY core_deg DESC, node LIMIT 10
    )
    SELECT t.node, t.core_deg, tot.n_core_nodes, te.n_core_edges
    FROM top t, tot, te
    ORDER BY core_deg DESC, node
"""


@register(
    "k_core_parts",
    oracle=_KCORE_ORACLE,
    doc=f"k-core decomposition (Seidman'83; k={_KCORE_K}) of the part "
        "co-purchase graph (parts in >= 2 common orders, the "
        "lpa_communities edge construction): iteratively peel nodes of "
        "degree < k until stable — the standard dense-subgraph / "
        "influence-zone primitive the CC/pagerank family lacked. Output "
        "= top-10 core nodes by in-core degree plus core node/edge "
        "totals; an EMPTY k-core yields zero rows (which the data "
        "realizes at sf0.1 — both engines agree). The DuckDB oracle "
        "replays peeling as a row-state recursive CTE (this DuckDB "
        "allows window functions over the recursive reference: degree "
        "via COUNT OVER per exploded endpoint, per-edge min, global min "
        "as the fixed-point guard; the final SELECT re-checks stability "
        "so the emptied-core case cannot leak the pre-death edge set). "
        "Scale: each Spark round is one degree aggregate + two "
        "broadcast-able anti-joins on a strictly shrinking edge list "
        "with localCheckpoint lineage truncation — the "
        "connected_components loop shape; rounds are data-driven "
        "(10 at sf0.01), never a hard-coded depth",
)
def q_k_core_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import checkpoint_round, co_purchase_pairs

    edges = co_purchase_pairs(_t(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=True
    )
    # per round, the peel-set emptiness and the edge-set emptiness ride
    # their checkpoint jobs as observed metrics (r14: the separate
    # limit/count probes were 4 extra jobs per peeling round — ~40 jobs
    # over the data-driven ~10 rounds at sf0.1)

    for _ in range(100):  # safety cap far above the data-driven ~10 rounds
        und = edges.select(F.col("p1").alias("node")).union(
            edges.select(F.col("p2").alias("node"))
        )
        bad, seen = checkpoint_round(
            und.groupBy("node").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") < _KCORE_K)
            .select("node"),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == 0:
            break
        edges, seen = checkpoint_round(
            edges.join(
                bad.withColumnRenamed("node", "p1"), "p1", "left_anti"
            )
            .join(bad.withColumnRenamed("node", "p2"), "p2", "left_anti"),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == 0:
            break
    und = edges.select(F.col("p1").alias("node")).union(
        edges.select(F.col("p2").alias("node"))
    )
    nd = und.groupBy("node").agg(
        F.count("*").cast("long").alias("core_deg")
    )
    totals = nd.agg(
        F.count("*").cast("long").alias("n_core_nodes")
    ).crossJoin(
        edges.agg(F.count("*").cast("long").alias("n_core_edges"))
    )
    top = nd.orderBy(F.desc("core_deg"), "node").limit(10)
    return top.crossJoin(F.broadcast(totals)).orderBy(
        F.desc("core_deg"), "node"
    )


# --- CMS join-cardinality estimate -----------------------------------------

def _cms_join_oracle() -> str:
    from .functions.text import portable_hash60_sql

    def bucket(d: int, key: str) -> str:
        h = portable_hash60_sql(f"'{d}' || '|' || CAST({key} AS VARCHAR)")
        return f"({h} % 256)"

    ga = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'o_custkey')} AS bucket FROM orders"
        for d in range(4)
    )
    gb = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'user_id')} AS bucket FROM events"
        for d in range(4)
    )
    return f"""
    WITH ga AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS ca
      FROM ({ga}) GROUP BY d, bucket
    ), gb AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cb
      FROM ({gb}) GROUP BY d, bucket
    ), est AS (
      SELECT CAST(MIN(dot) AS BIGINT) AS estimate FROM (
        SELECT ga.d, SUM(ga.ca * gb.cb) AS dot
        FROM ga JOIN gb ON gb.d = ga.d AND gb.bucket = ga.bucket
        GROUP BY ga.d)
    ), ex AS (
      SELECT CAST(SUM(na.n * nb.n) AS BIGINT) AS exact
      FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) na
      JOIN (SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY 1) nb
        ON nb.k = na.k
    )
    SELECT ex.exact, est.estimate,
           CAST(est.estimate - ex.exact AS BIGINT) AS overshoot,
           CAST((est.estimate - ex.exact) * 1000000 // ex.exact AS BIGINT)
             AS err_ppm
    FROM ex, est
    """


@register(
    "cms_join_cardinality",
    oracle=_cms_join_oracle(),
    doc="Join-size estimation via count-min sketch inner product "
        "(Cormode/Muthukrishnan'05 SS3: |A JOIN B| estimate = min over "
        "hash rows of sum_w gridA[d][w]*gridB[d][w]) — the optimizer "
        "statistic behind join reordering, here for orders.o_custkey "
        "JOIN events.user_id. Both 4x256 grids use the portable md5 "
        "bucket hash (the cms_heavy_hitters idiom), so the DuckDB "
        "oracle replays the sketch bit-for-bit; the exact size "
        "Sum nA(k)*nB(k) is computed alongside and the output carries "
        "estimate, exact, the guaranteed-nonnegative overshoot, and the "
        "relative error in ppm. Scale: each grid is a map-side-combined "
        "groupBy collapsing to a FIXED d*w = 1024 rows regardless of "
        "input size; the grids broadcast-join; the exact side is the "
        "one key-keyed shuffle",
)
def q_cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    def grid(df: DataFrame, key: str) -> DataFrame:
        cells = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            portable_hash60(
                                F.concat_ws(
                                    "|", F.lit(str(d)),
                                    F.col(key).cast("string"),
                                )
                            ) % 256
                        ).alias("bucket"),
                    )
                    for d in range(4)
                ]
            )
        ).alias("c")
        return (
            df.select(cells)
            .select("c.d", "c.bucket")
            .groupBy("d", "bucket")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
    ga = grid(_t(spark, sf_dir, "orders"), "o_custkey")
    gb = grid(_t(spark, sf_dir, "events"), "user_id")
    est = (
        ga.withColumnRenamed("cnt", "ca")
        .join(
            F.broadcast(gb.withColumnRenamed("cnt", "cb")),
            ["d", "bucket"],
        )
        .groupBy("d")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
        .agg(F.min("dot").cast("long").alias("estimate"))
    )
    na = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count("*").alias("n_a"))
    nb = _t(spark, sf_dir, "events").groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count("*").alias("n_b"))
    exact = na.join(nb, "k").agg(
        F.sum(F.col("n_a") * F.col("n_b")).cast("long").alias("exact")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact", "estimate",
        (F.col("estimate") - F.col("exact")).cast("long")
        .alias("overshoot"),
        F.expr("(estimate - exact) * 1000000 div exact").cast("long")
        .alias("err_ppm"),
    )


# --- DBSCAN-style grid density clustering ----------------------------------

@register(
    "dbscan_grid_clusters",
    oracle="""
    WITH RECURSIVE
    pts AS (
      SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 8) AS BIGINT) AS gx,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 8) AS BIGINT) AS gy
      FROM embeddings
    ),
    cells AS (
      SELECT (gx + 16) * 1000 + (gy + 16) AS cell, gx, gy,
             CAST(COUNT(*) AS BIGINT) AS n_pts
      FROM pts GROUP BY 1, 2, 3
      HAVING COUNT(*) >= 10
    ),
    -- undirected 8-neighbourhood adjacency PLUS a self-loop per cell:
    -- the self-loop lets the propagation step read a node's own label
    -- through the same single join (a recursive CTE may be referenced
    -- only once per step)
    edges AS (
      SELECT a.cell AS src, b.cell AS dst
      FROM cells a JOIN cells b
        ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
    ),
    lab AS (
      SELECT 0 AS it, cell AS node, cell AS comp FROM cells
      UNION ALL
      SELECT it + 1, e.dst AS node, CAST(MIN(l.comp) AS BIGINT) AS comp
      FROM lab l JOIN edges e ON e.src = l.node
      WHERE it < 24
      GROUP BY it, e.dst
    ),
    final AS (SELECT node, comp FROM lab WHERE it = 24),
    agg AS (
      SELECT f.comp AS cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(c.n_pts) AS BIGINT) AS n_points
      FROM final f JOIN cells c ON c.cell = f.node
      GROUP BY f.comp
    )
    SELECT cluster_id, n_cells, n_points
    FROM agg ORDER BY n_points DESC, cluster_id
    """,
    doc="DBSCAN-shaped density clustering (Ester et al. KDD'96, grid "
        "variant): embeddings projected to their first two dims, bucketed "
        "into fixed-point 1/8-wide grid cells (floor(x*8) is "
        "engine-exact), cells with >= 10 points are 'dense', and dense "
        "cells merge through 8-neighbourhood connectivity — computed with "
        "the package connected_components (min-label propagation that "
        "escalates to star contraction past its round cap; isolated "
        "dense cells become singleton clusters via the left join). "
        "Output: per "
        "cluster (id = min cell id), cell and point counts. The oracle "
        "replays CC as min-label propagation in a recursive CTE with one "
        "trick: the adjacency CTE carries a SELF-LOOP per node, so the "
        "single permitted recursive-reference join delivers both a "
        "node's own label and its neighbours' in one pass; 24 rounds "
        "cover any diameter this bounded cell graph can have. Scale: "
        "the only fact-sized step is the cell groupBy (map-side "
        "combined); everything after runs on the bounded dense-cell "
        "relation",
)
def q_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import connected_components

    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    pts = emb.select(
        F.floor(e[0] * 8).cast("long").alias("gx"),
        F.floor(e[1] * 8).cast("long").alias("gy"),
    )
    cells = (
        pts.groupBy("gx", "gy")
        .agg(F.count("*").cast("long").alias("n_pts"))
        .filter(F.col("n_pts") >= 10)
        .select(
            ((F.col("gx") + 16) * 1000 + F.col("gy") + 16).alias("cell"),
            "gx", "gy", "n_pts",
        )
        .localCheckpoint(eager=True)  # consumed by both join sides + CC
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = a.join(
        b,
        (F.abs(F.col("a.gx") - F.col("b.gx")) <= 1)
        & (F.abs(F.col("a.gy") - F.col("b.gy")) <= 1)
        & (F.col("b.cell") > F.col("a.cell")),
    ).select(F.col("a.cell").alias("id_a"), F.col("b.cell").alias("id_b"))
    labels = connected_components(edges)
    assigned = cells.join(
        labels.withColumnRenamed("node", "cell"), "cell", "left"
    ).select(
        "cell", "n_pts",
        F.coalesce(F.col("comp"), F.col("cell")).alias("cluster_id"),
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("n_pts").cast("long").alias("n_points"),
        )
        .orderBy(F.desc("n_points"), "cluster_id")
    )


# ---------------------------------------------------------------------------
# Cross-document chunk dedup audit (CCNet paragraph-hash dedup, reduced to
# fixed 8-word chunks on this corpus's newline-free text)
# ---------------------------------------------------------------------------

@register(
    "chunk_dedup_ccnet",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), ix AS (
      SELECT doc_id, source, w,
             unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
      FROM d
    ), c AS (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(w, 8*i + 1, 8*i + 8), ' ')) AS h
      FROM ix
    ), shared AS (
      SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM c GROUP BY h
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE s.nd >= 2) AS BIGINT)
             AS n_dup_chunks,
           CAST(COUNT(DISTINCT c.h) AS BIGINT) AS n_distinct_chunks,
           COUNT(*) FILTER (WHERE s.nd >= 2) * 1000000 // COUNT(*)
             AS dup_ppm
    FROM c JOIN shared s ON s.h = c.h
    GROUP BY c.source
    """,
    doc="Cross-document chunk-level dedup audit — the CCNet dedup stage "
        "(Wenzek et al. 2020, arXiv:1911.00359) that drops duplicated "
        "paragraphs ACROSS documents, not whole-doc dups: this corpus's "
        "text is newline-free, so 'paragraphs' are deterministic "
        "non-overlapping 8-word chunks. Each chunk is md5-hashed "
        "scan-side (the shuffle carries 32-byte hashes, never chunk "
        "text); a chunk occurrence is duplicated iff its hash appears in "
        ">=2 distinct documents. Per-source report: chunk counts, "
        "cross-doc duplicated occurrences, distinct chunks, dup ppm. "
        "Scale: one hash-keyed aggregate + one hash-keyed join back "
        "(same key, AQE broadcasts the Zipf-small shared-hash side at "
        "test SF and sort-merges co-partitioned at fact scale), then a "
        "20-group rollup — the exact shape of exact_dedup generalized "
        "from doc-grain to chunk-grain",
)
def q_chunk_dedup_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import chunk_dedup_stats

    return chunk_dedup_stats(
        _t(spark, sf_dir, "documents"), chunk_words=8, group_col="source"
    )


# ---------------------------------------------------------------------------
# Inverted index posting lists (search infrastructure)
# ---------------------------------------------------------------------------

@register(
    "inverted_index_postings",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY tok, doc_id
    ), stats AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS tf_total,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM tf GROUP BY tok
    ), top AS (
      SELECT * FROM stats ORDER BY df DESC, tok LIMIT 20
    ), pre AS (
      SELECT f.tok, f.doc_id,
             ROW_NUMBER() OVER (PARTITION BY f.tok ORDER BY f.doc_id) AS rn
      FROM tf f JOIN top t ON t.tok = f.tok
    ), prefix AS (
      SELECT tok,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings_prefix
      FROM pre WHERE rn <= 8 GROUP BY tok
    )
    SELECT t.tok, t.df, t.tf_total, t.min_doc, t.max_doc,
           p.postings_prefix
    FROM top t JOIN prefix p USING (tok)
    """,
    doc="Inverted-index posting-list construction — the search-engine "
        "core structure over the corpus: term -> (document frequency, "
        "total term frequency, docid range, and the first 8 postings in "
        "docid order as a delta-codable prefix). Reported for the top-20 "
        "terms by df (tie-broken by term). Scale: pass 1 is the "
        "(term, doc) tf aggregate (map-side combinable); the term-level "
        "stats reuse the same key; the posting prefix is a per-term "
        "top-8-by-docid window with a LITERAL rank bound so it plans as "
        "WindowGroupLimit (per-partition 8-row heaps, no full posting "
        "sort), and only the 20 selected terms' postings flow into it "
        "via a broadcast semi-join. No collect_list over an unbounded "
        "posting list ever materializes",
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("tok", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    stats = tf.groupBy("tok").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    top = stats.orderBy(F.desc("df"), "tok").limit(20)
    pre = tf.join(F.broadcast(top.select("tok")), "tok").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("tok").orderBy("doc_id")
        ),
    ).filter(F.col("rn") <= 8)
    prefix = pre.groupBy("tok").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_prefix")
    )
    return top.join(prefix, "tok").select(
        "tok", "df", "tf_total", "min_doc", "max_doc", "postings_prefix"
    )


# ---------------------------------------------------------------------------
# Shannon entropy of per-user event mix (quantized micro-nats)
# ---------------------------------------------------------------------------

@register(
    "event_type_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ), per AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                               AS BIGINT)) AS BIGINT) AS s
      FROM c GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           CAST(floor(ln(CAST(n_events AS DOUBLE)) * 1000000) AS BIGINT)
             - s // n_events AS entropy_e6
    FROM per
    """,
    doc="Shannon entropy of each user's event-type mix — the behavioural "
        "diversity score (uniform mix -> ln(k), single-type -> 0), in "
        "deterministic quantized micro-nats: H = ln n - (1/n)*sum c*ln c "
        "with every ln floored to integer micro-nats BEFORE the sum, so "
        "the aggregate is an order-free bigint sum (a float log-sum "
        "would be partition-order dependent) and the final division is "
        "integer div on positives — the unigram_surprisal quantization "
        "discipline applied to entropy. Scale: one (user, type) "
        "map-side-combinable count, then a user-keyed rollup; no window, "
        "no join",
)
def q_event_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    per = c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(
            F.col("c")
            * F.floor(F.log(F.col("c").cast("double")) * 1000000)
            .cast("long")
        ).cast("long").alias("s"),
    )
    return per.select(
        "user_id", "n_events", "n_types",
        (
            F.floor(F.log(F.col("n_events").cast("double")) * 1000000)
            .cast("long")
            - F.expr("s div n_events")
        ).alias("entropy_e6"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of the daily order count series
# ---------------------------------------------------------------------------

@register(
    "autocorr_lag1_daily",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), p AS (
      SELECT a.x AS xa, b.x AS xb
      FROM d a JOIN d b ON b.day = a.day + 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
             CAST(SUM(xa*xb) AS BIGINT) AS sxy,
             CAST(SUM(xa*xa) AS BIGINT) AS sxx,
             CAST(SUM(xb*xb) AS BIGINT) AS syy
      FROM p
    )
    SELECT n AS n_pairs, sx, sy, sxy,
           CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) = 0 THEN 0
                ELSE CAST(floor(
                  CAST(n*sxy - sx*sy AS DOUBLE) * 1000000
                  / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
                         * CAST(n*syy - sy*sy AS DOUBLE))) AS BIGINT)
           END AS r1_ppm
    FROM s
    """,
    doc="Lag-1 autocorrelation of the daily order-count series — the "
        "standard seasonality/momentum diagnostic for a business time "
        "series. Consecutive-day pairs come from an equi-join of the "
        "daily series to itself on day+1 (gap days simply contribute no "
        "pair); all Pearson sums are exact int64 on small daily counts, "
        "and only the final ratio touches doubles (one sqrt, floored to "
        "ppm — the kendall_tau_daily discipline). Scale: the fact table "
        "collapses to the day grain in one map-side-combinable "
        "aggregate; the self-join and the moment sums run on the "
        "calendar-sized series",
)
def q_autocorr_lag1_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "orders").groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    a, b = d.alias("a"), d.alias("b")
    p = a.join(b, F.col("b.day") == F.col("a.day") + 1).select(
        F.col("a.x").alias("xa"), F.col("b.x").alias("xb")
    )
    s = p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").alias("n_pairs"), "sx", "sy", "sxy",
        F.when(varx * vary == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double") * 1000000
                / F.sqrt(varx.cast("double") * vary.cast("double"))
            ).cast("long")
        ).alias("r1_ppm"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

@register(
    "weighted_sample_es",
    oracle="""
    WITH k AS (
      SELECT c_mktsegment, c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) + 100001 AS w,
             (CAST('0x' || substr(md5('es|' || CAST(c_custkey AS VARCHAR)),
                                  1, 13) AS BIGINT) + 0.5)
               / 4503599627370496.0 AS u
      FROM customer
    ), r AS (
      SELECT c_mktsegment, c_custkey, w,
             -ln(u) / w AS key,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY -ln(u) / w, c_custkey) AS rank
      FROM k
    )
    SELECT c_mktsegment, CAST(rank AS BIGINT) AS rank, c_custkey, w,
           CAST(floor(key * 1e12) AS BIGINT) AS key_e12
    FROM r WHERE rank <= 5
    """,
    doc="Deterministic weighted sampling WITHOUT replacement, k=5 per "
        "market segment — the Efraimidis-Spirakis A-ES scheme (IPL 2006: "
        "keep the k items minimizing -ln(u)/w), the standard one-pass "
        "distributed weighted sampler for training-data mixing. The "
        "uniform u is a portable md5-derived 52-bit dyadic rational "
        "(exactly representable, identical in both engines), the weight "
        "is positive integer cents, and the sample is therefore fully "
        "reproducible — rerunning on re-partitioned data returns the "
        "same rows. Scale: keys are computed scan-side; per-segment "
        "top-5 with a LITERAL rank bound plans as WindowGroupLimit "
        "(per-partition 5-row heaps), so nothing but 5 rows per segment "
        "survives the single exchange",
)
def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import a_es_keyed

    k = a_es_keyed(
        _t(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey",
                                             "c_acctbal"),
        "c_custkey",
        cents_signed(F.col("c_acctbal")) + 100001,
    )
    r = k.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("c_mktsegment").orderBy("key", "c_custkey")
        ),
    ).filter(F.col("rank") <= 5)
    return r.select(
        "c_mktsegment", F.col("rank").cast("long").alias("rank"),
        "c_custkey", "w", "key_e12",
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed n-gram target/raw log-likelihood ratio)
# ---------------------------------------------------------------------------

@register(
    "dsir_importance_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(unnest(string_split(text, ' '))),
                                 1, 15) AS BIGINT) % 64 AS b
      FROM documents
    ), raw AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY b
    ), tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM tok
      WHERE lang = 'en' GROUP BY b
    ), tot AS (
      SELECT CAST(SUM(r) AS BIGINT) AS big_r,
             (SELECT CAST(SUM(t) AS BIGINT) FROM tgt) AS big_t
      FROM raw
    ), lam AS (
      SELECT raw.b,
             (CAST(floor(ln(CAST(coalesce(tgt.t, 0) + 1 AS DOUBLE))
                         * 1000000) AS BIGINT)
              - CAST(floor(ln(CAST(tot.big_t + 64 AS DOUBLE)) * 1000000)
                     AS BIGINT))
             - (CAST(floor(ln(CAST(raw.r + 1 AS DOUBLE)) * 1000000)
                     AS BIGINT)
                - CAST(floor(ln(CAST(tot.big_r + 64 AS DOUBLE)) * 1000000)
                       AS BIGINT)) AS lam_e6
      FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tot
    )
    SELECT tok.doc_id, any_value(tok.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lam.lam_e6) AS BIGINT) AS dsir_e6
    FROM tok JOIN lam ON lam.b = tok.b
    GROUP BY tok.doc_id
    """,
    doc="DSIR importance weights (Data Selection via Importance "
        "Resampling, Xie et al. 2023, arXiv:2302.03169): score every raw "
        "document by the log-likelihood ratio of a TARGET distribution "
        "(here lang='en') vs the RAW corpus under hashed unigram "
        "bag-of-words models — the published recipe for selecting "
        "pretraining data that looks like a target domain. Features are "
        "portable md5 buckets (64); both models are add-one-smoothed "
        "bucket multinomials; each bucket's log-ratio is quantized to "
        "integer micro-nats BEFORE the per-document sum, so the score "
        "is an exact order-free bigint. Scale: two bucket-grain "
        "aggregates (64 rows) build the ratio table, which broadcasts "
        "into the token stream — the fact-sized data shuffles once, on "
        "doc_id, for the final rollup",
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang",
                F.explode(F.split("text", " ")).alias("tok"))
        .select(
            "doc_id", "lang",
            (
                F.expr(
                    "conv(substr(md5(cast(tok as binary)), 1, 15), 16, 10)"
                ).cast("long") % 64
            ).alias("b"),
        )
    )
    raw = tok.groupBy("b").agg(F.count("*").cast("long").alias("r"))
    tgt = tok.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count("*").cast("long").alias("t")
    )
    tot = raw.agg(F.sum("r").cast("long").alias("big_r")).crossJoin(
        tgt.agg(F.sum("t").cast("long").alias("big_t"))
    )

    def _ln_e6(col):
        return F.floor(F.log(col.cast("double")) * 1000000).cast("long")

    lam = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                (_ln_e6(F.coalesce(F.col("t"), F.lit(0)) + 1)
                 - _ln_e6(F.col("big_t") + 64))
                - (_ln_e6(F.col("r") + 1) - _ln_e6(F.col("big_r") + 64))
            ).alias("lam_e6"),
        )
    )
    return (
        tok.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lam_e6").cast("long").alias("dsir_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information of the (lang, source) contingency table
# ---------------------------------------------------------------------------

@register(
    "lang_source_mutual_info",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source
    ), r AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS rl FROM c GROUP BY lang
    ), s AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM c GROUP BY source
    ), n AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM c
    )
    SELECT n.n AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT c.lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT c.source) AS BIGINT) AS n_sources,
           CAST(SUM(c.c * (CAST(floor(ln(CAST(n.n * c.c AS DOUBLE))
                                      * 1000000) AS BIGINT)
                           - CAST(floor(ln(CAST(r.rl * s.cs AS DOUBLE))
                                        * 1000000) AS BIGINT)))
                AS BIGINT) AS mi_c_e6
    FROM c JOIN r USING (lang) JOIN s USING (source) CROSS JOIN n
    GROUP BY n.n
    """,
    doc="Mutual information of the (lang, source) contingency table — "
        "I(lang; source) = sum p(l,s) ln(p(l,s)/(p(l)p(s))), the "
        "information-theoretic dependence audit that complements "
        "chi_square_independence (zero iff the corpus mixes languages "
        "identically across sources). Each cell's log-ratio collapses "
        "to ln(n*c) - ln(rowsum*colsum), both lns of exact int64 "
        "products quantized to micro-nats before the count-weighted "
        "bigint sum (reported as mi_c_e6 = n * MI_e6 — exact, "
        "division-free). Scale: one fact-grain group-by to the cell "
        "table; marginals and the weighted sum all run on the "
        "langs x sources grid",
)
def q_lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("c")
    )
    r = c.groupBy("lang").agg(F.sum("c").cast("long").alias("rl"))
    s = c.groupBy("source").agg(F.sum("c").cast("long").alias("cs"))
    n = c.agg(F.sum("c").cast("long").alias("n"))

    def _ln_e6(col):
        return F.floor(F.log(col.cast("double")) * 1000000).cast("long")

    joined = (
        c.join(F.broadcast(r), "lang")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(n))
    )
    return joined.groupBy("n").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(
            F.col("c")
            * (_ln_e6(F.col("n") * F.col("c"))
               - _ln_e6(F.col("rl") * F.col("cs")))
        ).cast("long").alias("mi_c_e6"),
    ).select(
        F.col("n").alias("n_docs"), "n_cells", "n_langs", "n_sources",
        "mi_c_e6",
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance audit on order totals
# ---------------------------------------------------------------------------

@register(
    "benford_digit_audit",
    oracle="""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ), o AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed FROM c
      GROUP BY digit
    ), n AS (
      SELECT CAST(SUM(observed) AS BIGINT) AS n FROM o
    )
    SELECT o.digit, o.observed,
           CAST(floor(n.n * log10(1.0 + 1.0 / o.digit) * 1000) AS BIGINT)
             AS expected_e3,
           CAST(floor(
             (o.observed - n.n * log10(1.0 + 1.0 / o.digit))
             * (o.observed - n.n * log10(1.0 + 1.0 / o.digit))
             / (n.n * log10(1.0 + 1.0 / o.digit)) * 1000000
           ) AS BIGINT) AS chi_component_e6
    FROM o CROSS JOIN n
    """,
    doc="Benford's-law first-significant-digit audit of order totals — "
        "the classic fraud/synthetic-data detector: observed first-digit "
        "counts of the integer-cents amount vs the Benford expectation "
        "n*log10(1+1/d), with the per-digit chi-square component. All "
        "counts are exact; the expectation and chi component involve one "
        "log10 each on identical doubles, floored to e3/e6 (the "
        "established quantization discipline). Digits come from the "
        "data, so both engines agree on the row set by construction. "
        "Scale: one map-side-combinable 9-group aggregate over the "
        "fact scan; everything after runs on 9 rows",
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "orders").select(
        F.substring(
            cents_nonneg(F.col("o_totalprice"))
            .cast("string"), 1, 1
        ).cast("long").alias("digit")
    )
    o = c.groupBy("digit").agg(F.count("*").cast("long").alias("observed"))
    n = o.agg(F.sum("observed").cast("long").alias("n"))
    exp = F.col("n").cast("double") * F.log10(1.0 + 1.0 / F.col("digit"))
    dev = F.col("observed").cast("double") - exp
    return o.crossJoin(F.broadcast(n)).select(
        "digit", "observed",
        F.floor(exp * 1000).cast("long").alias("expected_e3"),
        F.floor(dev * dev / exp * 1000000).cast("long")
        .alias("chi_component_e6"),
    )


# ---------------------------------------------------------------------------
# Real WAV codec roundtrip certified by hash (audio twin of
# gan_grid_inference_fixed: the oracle replays the math, Spark runs the
# actual binary codec in the loop)
# ---------------------------------------------------------------------------

@register(
    "wav_roundtrip_frame_energy",
    oracle="""
    WITH c AS (
      SELECT unnest(range(0, 32)) AS clip
    ), ix AS (
      SELECT clip, unnest(range(0, 800)) AS i FROM c
    ), s AS (
      SELECT clip, i,
             CAST('0x' || substr(md5('wav|' || CAST(clip AS VARCHAR)
                                     || '|' || CAST(i AS VARCHAR)),
                                 1, 15) AS BIGINT) % 65536 - 32768 AS v
      FROM ix
    )
    SELECT clip, i // 160 AS frame_no,
           CAST(SUM(v * v) AS BIGINT) AS energy
    FROM s GROUP BY clip, i // 160
    """,
    doc="REAL RIFF/WAVE PCM16 codec in the query loop, certified by "
        "hash: 32 deterministic clips of 800 md5-derived int16 samples "
        "are generated JVM-side, then each clip is ENCODED to actual "
        ".wav bytes and DECODED back by the clean-room wavcodec "
        "(functions/wavcodec.py) inside one mapInPandas stage, which "
        "emits exact int64 per-frame energies (160-sample frames, "
        "sum v^2). The DuckDB oracle replays the sample formula and "
        "framing arithmetic directly — it never sees the bytes — so a "
        "hash match IS a proof the binary roundtrip is lossless (any "
        "corrupted sample changes its frame's energy). Scale: the codec "
        "runs where the data sits (no shuffle before the frame "
        "aggregate); same shape as audio_frame_energy over a binary "
        "column at fact scale",
)
def q_wav_roundtrip_frame_energy(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401 (Arrow batch types)

    clips = spark.range(32).select(F.col("id").alias("clip"))
    with_samples = clips.select(
        "clip",
        F.expr(
            "transform(sequence(0, 799), i ->"
            " cast(conv(substr(md5(cast(concat('wav|',"
            " cast(clip as string), '|', cast(i as string)) as binary)),"
            " 1, 15), 16, 10) as long) % 65536 - 32768)"
        ).alias("samples"),
    )
    out_schema = "clip long, frame_no long, energy long"

    def run(batches):
        import numpy as np

        from .functions.wavcodec import decode_wav, encode_wav

        for pdf in batches:
            rows = {"clip": [], "frame_no": [], "energy": []}
            for clip, samples in zip(pdf["clip"], pdf["samples"]):
                s = np.asarray(samples, dtype=np.int64)
                if s.min() < -32768 or s.max() > 32767:
                    raise ValueError(
                        f"clip {clip}: samples outside the int16 range"
                    )
                decoded, rate = decode_wav(
                    encode_wav(s.astype(np.int16), 16000)
                )
                if rate != 16000:
                    raise RuntimeError(
                        f"wav round trip returned rate {rate}, not 16000"
                    )
                v = decoded[:, 0].astype(np.int64)
                e = (v * v).reshape(-1, 160).sum(axis=1)
                rows["clip"].extend([int(clip)] * len(e))
                rows["frame_no"].extend(range(len(e)))
                rows["energy"].extend(int(x) for x in e)
            yield pd.DataFrame(rows)

    return with_samples.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Snapshot table time travel, certified by hash: the query RUNS the real
# manifest/commit/rollback machinery and the oracle predicts what every
# version must contain
# ---------------------------------------------------------------------------

@register(
    "snapshot_time_travel_audit",
    oracle="""
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    ), allr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS operation,
           base.n AS n_rows, base.cents AS total_cents FROM base
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'append', allr.n, allr.cents FROM allr
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'rollback:v0', base.n, base.cents FROM base
    """,
    doc="Lakehouse snapshot layer (sources/snapshots.py: manifest-listed "
        "immutable parquet + atomic HEAD swap, the Delta/Iceberg "
        "transaction shape) certified by hash: the query actually RUNS a "
        "commit -> append-commit -> rollback cycle on a scratch table "
        "(v0 = pre-1996 orders, v1 = v0 + the rest appended with NO "
        "rewrite, v2 = rollback to v0), then reads EVERY version back "
        "through time travel and emits (version, operation, rows, "
        "integer cents). The oracle predicts each version's content "
        "directly from the orders table, so a hash match proves the "
        "manifest machinery loses and duplicates nothing under "
        "append/rollback. Bounded summary rows cross the driver; the "
        "per-version scans are ordinary distributed parquet reads",
)
def q_snapshot_time_travel_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTable

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1996-01-01")
    rest = orders.filter(F.col("o_orderdate") >= "1996-01-01")

    d = tempfile.mkdtemp(prefix="snap_audit_")
    try:
        t = SnapshotTable(d)
        t.commit(base)                       # v0
        t.commit(rest, mode="append")        # v1 = v0 files + rest files
        t.rollback(0)                        # v2 reads as v0 again
        rows = []
        for h in t.history():
            agg = t.read(spark, h["version"]).agg(
                F.count("*").cast("long").alias("n"),
                F.sum(
                    cents_nonneg(F.col("o_totalprice"))
                ).cast("long").alias("cents"),
            ).collect()[0]
            rows.append(
                (h["version"], h["operation"], agg["n"], agg["cents"])
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version long, operation string, n_rows long, total_cents long"
    )


# ---------------------------------------------------------------------------
# Order-free table checksums (CHECKSUM TABLE / data-integrity surface)
# ---------------------------------------------------------------------------

@register(
    "table_checksum_audit",
    oracle="""
    WITH o AS (
      SELECT CAST('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
               CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               || '|' ||
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS VARCHAR)
               || '|' || o_orderpriority), 1, 15) AS BIGINT) AS h
      FROM orders
    ), l AS (
      SELECT CAST('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_partkey AS VARCHAR) || '|' ||
               CAST(l_suppkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR) || '|' ||
               CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                    AS VARCHAR) || '|' ||
               CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR)
               || '|' ||
               CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR) || '|'
               || l_returnflag || '|' || l_linestatus || '|' ||
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(l_shipdate AS DATE)) AS VARCHAR)),
               1, 15) AS BIGINT) AS h
      FROM lineitem
    )
    SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h % 1000000007) AS BIGINT) AS checksum1,
           CAST(SUM(h % 998244353) AS BIGINT) AS checksum2
    FROM o
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(h % 1000000007) AS BIGINT),
           CAST(SUM(h % 998244353) AS BIGINT)
    FROM l
    """,
    doc="Order-free whole-table checksums (the CHECKSUM TABLE / "
        "data-integrity surface every warehouse ships): each row is "
        "canonicalized to a '|'-joined projection (integer cents and "
        "epoch days for floats/dates, so the serialization is "
        "engine-invariant), md5-hashed to a 60-bit int scan-side, and "
        "summed under two independent prime moduli — a commutative "
        "digest, so any row lost, duplicated, or altered during a "
        "migration/compaction/layout rewrite changes at least one "
        "checksum, while partitioning and row order cannot. Scale: one "
        "map-side-combinable global aggregate per table, no shuffle of "
        "row data, driver sees 2 rows; sums stay < 2^63 up to ~10^9 "
        "rows per table (then swap in a modular-add fold)",
)
def q_table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def cents(c: str):
        return (
            "cast(cast(round(" + c + " * 100) as long) as string)"
        )

    def day_sql(c: str):
        return (
            "cast(datediff(cast(" + c + " as date),"
            " cast('1970-01-01' as date)) as string)"
        )

    o_row = (
        "concat(cast(o_orderkey as string), '|',"
        " cast(o_custkey as string), '|', o_orderstatus, '|', "
        + cents("o_totalprice") + ", '|', "
        + day_sql("o_orderdate") + ", '|', o_orderpriority)"
    )
    l_row = (
        "concat(cast(l_orderkey as string), '|',"
        " cast(l_partkey as string), '|', cast(l_suppkey as string), '|',"
        " cast(l_linenumber as string), '|',"
        " cast(cast(round(l_quantity) as long) as string), '|', "
        + cents("l_extendedprice") + ", '|', "
        + cents("l_discount") + ", '|', " + cents("l_tax")
        + ", '|', l_returnflag, '|', l_linestatus, '|', "
        + day_sql("l_shipdate") + ")"
    )

    def digest(df: DataFrame, row_expr: str, name: str) -> DataFrame:
        h = F.expr(
            f"cast(conv(substr(md5(cast({row_expr} as binary)), 1, 15),"
            " 16, 10) as long)"
        )
        return df.select(h.alias("h")).agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("h") % 1000000007).cast("long").alias("checksum1"),
            F.sum(F.col("h") % 998244353).cast("long").alias("checksum2"),
        ).select(
            F.lit(name).alias("table_name"), "n_rows", "checksum1",
            "checksum2",
        )

    return digest(_t(spark, sf_dir, "orders"), o_row, "orders").unionAll(
        digest(_t(spark, sf_dir, "lineitem"), l_row, "lineitem")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the co-purchase graph
# ---------------------------------------------------------------------------

@register(
    "adamic_adar_linkpred",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    ),
    e AS (SELECT p1 AS u, p2 AS v FROM pr UNION ALL SELECT p2, p1 FROM pr),
    wt AS (SELECT u, CAST(floor(1000000.0 / ln(COUNT(*))) AS BIGINT) AS w
           FROM e GROUP BY u HAVING COUNT(*) >= 2),
    cand AS (
      SELECT e1.u AS a, e2.u AS b,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             CAST(SUM(wt.w) AS BIGINT) AS score_e6
      FROM e e1 JOIN e e2 ON e2.v = e1.v AND e2.u > e1.u
      JOIN wt ON wt.u = e1.v
      GROUP BY e1.u, e2.u
    )
    SELECT a AS part_a, b AS part_b, common_neighbors, score_e6
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cand.a AND e.v = cand.b)
    ORDER BY score_e6 DESC, part_a, part_b
    LIMIT 100
    """,
    doc="Adamic-Adar link prediction (Adamic & Adar 2003) over the "
        "co-purchase graph: for every non-adjacent pair with at least one "
        "common neighbor, score = sum over common neighbors w of "
        "1/ln(deg(w)), the classic friend-of-friend recommender. Each "
        "neighbor's weight floor(1e6/ln(deg)) is quantized BEFORE the "
        "sum, so the total is an exact long in both engines (sum order "
        "can't perturb it). deg >= 2 for any common neighbor, so ln is "
        "never 0 (the HAVING guard keeps leaf nodes out of the weight "
        "table). Top 100 by score with (a, b) tie-break. Scale: the "
        "two-hop self-join is the standard link-prediction shape — one "
        "shuffle of the edge list keyed on the shared endpoint, weight "
        "table joined on the same key, anti-join prunes existing edges; "
        "edges localCheckpoint'd once for its three consumers",
)
def q_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import adamic_adar_topk, co_purchase_pairs

    pr = co_purchase_pairs(_t(spark, sf_dir, "lineitem"))
    return adamic_adar_topk(pr, "p1", "p2", k=100)


# ---------------------------------------------------------------------------
# Bradley-Terry pairwise strength (fixed-point MM, 3 unrolled iterations)
# ---------------------------------------------------------------------------

def _bt_oracle(iters: int = 3) -> str:
    ctes = ["""
    comp AS (
      SELECT CASE WHEN a.l_extendedprice > b.l_extendedprice
                  THEN a.l_suppkey ELSE b.l_suppkey END AS winner,
             CASE WHEN a.l_extendedprice > b.l_extendedprice
                  THEN b.l_suppkey ELSE a.l_suppkey END AS loser
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey
       AND b.l_linenumber > a.l_linenumber
       AND b.l_suppkey <> a.l_suppkey
       AND b.l_extendedprice <> a.l_extendedprice
    ),
    pairs AS (
      SELECT LEAST(winner, loser) AS i, GREATEST(winner, loser) AS j,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM comp GROUP BY i, j
    ),
    bp AS (SELECT i AS s, j AS o, n FROM pairs
           UNION ALL SELECT j, i, n FROM pairs),
    wins AS (
      SELECT p.s, CAST(1 + coalesce(w.c, 0) AS BIGINT) AS wins,
             CAST(SUM(p.n) AS BIGINT) AS n_comparisons
      FROM bp p LEFT JOIN (
        SELECT winner, COUNT(*) AS c FROM comp GROUP BY winner
      ) w ON w.winner = p.s
      GROUP BY p.s, w.c
    ),
    p0 AS (SELECT s, CAST(1000000 AS BIGINT) AS p FROM wins)"""]
    for t in range(1, iters + 1):
        ctes.append(f"""
    d{t} AS (
      SELECT bp.s,
             SUM(bp.n * 1000000000000 // (ps.p + po.p)) AS den
      FROM bp JOIN p{t - 1} ps ON ps.s = bp.s
              JOIN p{t - 1} po ON po.s = bp.o
      GROUP BY bp.s
    ),
    p{t} AS (
      SELECT w.s,
             GREATEST(w.wins * 1000000000000 // d{t}.den, 1) AS p
      FROM wins w JOIN d{t} ON d{t}.s = w.s
    )""")
    return (
        "WITH" + ",".join(ctes) + f"""
    SELECT w.s AS suppkey, w.wins - 1 AS wins, w.n_comparisons,
           CAST(p{iters}.p AS BIGINT) AS strength_e6
    FROM wins w JOIN p{iters} ON p{iters}.s = w.s
    ORDER BY strength_e6 DESC, suppkey
    LIMIT 50
    """
    )


@register(
    "bradley_terry_strength",
    oracle=_bt_oracle(),
    doc="Bradley-Terry pairwise-preference strengths via the classic MM "
        "update (Hunter 2004), the workhorse of RLHF reward-model data "
        "audits: comparisons = same-order lineitem pairs (strictly "
        "increasing linenumber — this data has duplicate linenumbers) "
        "from different suppliers, winner = higher extended price; 3 "
        "fixed MM rounds "
        "p_i' = W_i / sum_j n_ij/(p_i+p_j). ENTIRELY 64-bit integer "
        "arithmetic: strengths live at e6 scale, each pair term is "
        "n*1e12 div (p_i+p_j) (exact integer division, summed as longs), "
        "one virtual win per player regularizes zero-win suppliers and a "
        "GREATEST(.,1) clamp keeps denominators alive — so both engines "
        "replay bit-identical updates with no float sum-order hazard "
        "(wins*1e12 < 2^63 up to ~9.2M wins/supplier; document before "
        "lifting). Oracle unrolls the 3 rounds as chained CTEs (the "
        "lpa/pagerank pattern). Scale: pair table is supplier-keyed and "
        "tiny vs the fact table; each round broadcasts the strength "
        "vector into one edge-list aggregate — O(iters) broadcast joins, "
        "zero fact-table reshuffles after the first pair count",
)
def q_bradley_terry_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    a, b = li.alias("a"), li.alias("b")
    win_a = F.col("a.l_extendedprice") > F.col("b.l_extendedprice")
    comp = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_linenumber") > F.col("a.l_linenumber"))
            & (F.col("b.l_suppkey") != F.col("a.l_suppkey"))
            & (F.col("b.l_extendedprice") != F.col("a.l_extendedprice")),
        )
        .select(
            F.when(win_a, F.col("a.l_suppkey"))
            .otherwise(F.col("b.l_suppkey")).alias("winner"),
            F.when(win_a, F.col("b.l_suppkey"))
            .otherwise(F.col("a.l_suppkey")).alias("loser"),
        )
    )
    pairs = comp.groupBy(
        F.least("winner", "loser").alias("i"),
        F.greatest("winner", "loser").alias("j"),
    ).agg(F.count("*").cast("long").alias("n"))
    bp = pairs.select(
        F.col("i").alias("s"), F.col("j").alias("o"), "n"
    ).unionByName(
        pairs.select(F.col("j").alias("s"), F.col("i").alias("o"), "n")
    ).localCheckpoint()  # reused every MM round + wins rollup
    wcnt = comp.groupBy("winner").agg(F.count("*").alias("c"))
    tot = bp.groupBy("s").agg(
        F.sum("n").cast("long").alias("n_comparisons")
    )
    wins = (
        tot.join(wcnt, F.col("s") == F.col("winner"), "left")
        .select(
            "s",
            (F.lit(1) + F.coalesce(F.col("c"), F.lit(0))).cast("long")
            .alias("wins"),
            "n_comparisons",
        )
        .localCheckpoint()
    )
    p = wins.select("s", F.lit(1000000).cast("long").alias("p"))
    for _ in range(3):
        den = (
            bp.join(F.broadcast(p.withColumnRenamed("p", "ps")), "s")
            .join(
                F.broadcast(
                    p.select(F.col("s").alias("o"), F.col("p").alias("po"))
                ),
                "o",
            )
            .groupBy("s")
            .agg(
                F.sum(
                    F.expr("n * 1000000000000L div (ps + po)")
                ).alias("den")
            )
        )
        p = wins.join(den, "s").select(
            "s",
            F.greatest(
                F.expr("wins * 1000000000000L div den"), F.lit(1)
            ).cast("long").alias("p"),
        ).localCheckpoint()
    return (
        wins.join(p, "s")
        .select(
            F.col("s").alias("suppkey"),
            (F.col("wins") - 1).cast("long").alias("wins"),
            "n_comparisons",
            F.col("p").alias("strength_e6"),
        )
        .orderBy(F.desc("strength_e6"), "suppkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Flesch reading ease per language (readability audit)
# ---------------------------------------------------------------------------

@register(
    "flesch_reading_ease",
    oracle=r"""
    WITH d AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS syl
      FROM documents
    ), l AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(GREATEST(SUM(w), 1) AS BIGINT) AS words,
             CAST(GREATEST(SUM(s), 1) AS BIGINT) AS sentences,
             CAST(SUM(syl) AS BIGINT) AS syllables
      FROM d GROUP BY lang
    )
    SELECT lang, n_docs, words, sentences, syllables,
           CAST(floor((206.835
                       - 1.015 * (words / CAST(sentences AS DOUBLE))
                       - 84.6 * (syllables / CAST(words AS DOUBLE)))
                      * 1000) AS BIGINT) AS flesch_e3
    FROM l ORDER BY lang
    """,
    doc="Flesch reading-ease readability per language — the standard "
        "corpus-quality readability gate (Flesch 1948): words = \\S+ "
        "runs, sentences = [.!?]+ runs, syllables = vowel-group runs "
        "(the usual [aeiouy]+ heuristic), then 206.835 - 1.015 W/S - "
        "84.6 Syl/W on the per-language totals, floored to e3. The three "
        "counts are exact longs (regex match counts, identical RE2/Java "
        "semantics for these escape-free classes); the score is one "
        "double expression over two longs per language, so no sum-order "
        "hazard. GREATEST(.,1) clamps guard empty/enderless languages. "
        "Scale: per-doc regex counting is scan-local (one pass, no "
        "shuffle), the rollup is a map-side-combinable agg to ~5 rows",
)
def q_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")

    def n_matches(col, pat):
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))

    d = docs.select(
        "lang",
        n_matches(F.col("text"), r"\S+").cast("long").alias("w"),
        n_matches(F.col("text"), r"[.!?]+").cast("long").alias("s"),
        n_matches(F.lower(F.col("text")), r"[aeiouy]+").cast("long")
        .alias("syl"),
    )
    lang = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.greatest(F.sum("w"), F.lit(1)).cast("long").alias("words"),
        F.greatest(F.sum("s"), F.lit(1)).cast("long").alias("sentences"),
        F.sum("syl").cast("long").alias("syllables"),
    )
    score = (
        F.lit(206.835)
        - 1.015 * (F.col("words") / F.col("sentences").cast("double"))
        - 84.6 * (F.col("syllables") / F.col("words").cast("double"))
    )
    return lang.select(
        "lang", "n_docs", "words", "sentences", "syllables",
        F.floor(score * 1000).cast("long").alias("flesch_e3"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source length distributions
# ---------------------------------------------------------------------------

@register(
    "js_divergence_sources",
    oracle="""
    WITH d AS (
      SELECT source, CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT)
               AS bucket
      FROM documents
    ), c AS (
      SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM d GROUP BY source, bucket
    ), n AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source
    ), buckets AS (SELECT DISTINCT bucket FROM c),
    pairs AS (
      SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
      FROM n a JOIN n b ON b.source > a.source
    ), cells AS (
      SELECT p.sa, p.sb, bk.bucket,
             coalesce(ca.c, 0) AS c1, p.na,
             coalesce(cb.c, 0) AS c2, p.nb
      FROM pairs p CROSS JOIN buckets bk
      LEFT JOIN c ca ON ca.source = p.sa AND ca.bucket = bk.bucket
      LEFT JOIN c cb ON cb.source = p.sb AND cb.bucket = bk.bucket
    ), terms AS (
      SELECT sa, sb,
             CASE WHEN c1 > 0 OR c2 > 0 THEN 1 ELSE 0 END AS live,
             CAST(floor(CASE
               WHEN c1 = 0 AND c2 = 0 THEN 0.0
               WHEN c1 = 0 THEN
                 0.5 * (c2 / CAST(nb AS DOUBLE)) * ln(2.0)
               WHEN c2 = 0 THEN
                 0.5 * (c1 / CAST(na AS DOUBLE)) * ln(2.0)
               ELSE
                 0.5 * (c1 / CAST(na AS DOUBLE))
                     * ln(2.0 * (c1 / CAST(na AS DOUBLE))
                          / (c1 / CAST(na AS DOUBLE)
                             + c2 / CAST(nb AS DOUBLE)))
                 + 0.5 * (c2 / CAST(nb AS DOUBLE))
                     * ln(2.0 * (c2 / CAST(nb AS DOUBLE))
                          / (c1 / CAST(na AS DOUBLE)
                             + c2 / CAST(nb AS DOUBLE)))
             END * 1000000000) AS BIGINT) AS t_e9
      FROM cells
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(SUM(live) AS BIGINT) AS n_buckets,
           CAST(SUM(t_e9) AS BIGINT) AS jsd_e9
    FROM terms GROUP BY sa, sb
    ORDER BY source_a, source_b
    """,
    doc="Jensen-Shannon divergence between every pair of sources over "
        "their document-length distributions — the standard "
        "domain-shift / mixture-drift meter for pretraining corpora. "
        "Buckets are decimal-digit-count of n_chars (a log10 histogram "
        "computed by string length, so no float log at bucket edges); "
        "per-bucket JSD terms 0.5*p*ln(2p/(p+q)) + 0.5*q*ln(2q/(p+q)) "
        "are each ONE double expression over exact long counts, floored "
        "to e9 BEFORE the sum (longs sum exactly in any order; "
        "zero-sided buckets collapse to the closed-form q*ln2/2). "
        "Scale: one groupBy over the scan, then everything runs on "
        "sources x buckets cells (tens of rows) — the pair cross join "
        "never touches row-level data",
)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.select(
        "source",
        F.length(F.col("n_chars").cast("string")).cast("long")
        .alias("bucket"),
    ).groupBy("source", "bucket").agg(F.count("*").cast("long").alias("c"))
    n = c.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    buckets = c.select("bucket").distinct()
    a = n.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    b = n.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("sb") > F.col("sa"))
    cells = (
        pairs.crossJoin(F.broadcast(buckets))
        .join(
            F.broadcast(c.select(
                F.col("source").alias("sa"), "bucket",
                F.col("c").alias("c1"),
            )),
            ["sa", "bucket"], "left",
        )
        .join(
            F.broadcast(c.select(
                F.col("source").alias("sb"), "bucket",
                F.col("c").alias("c2"),
            )),
            ["sb", "bucket"], "left",
        )
        .fillna({"c1": 0, "c2": 0})
    )
    p = F.col("c1") / F.col("na").cast("double")
    q = F.col("c2") / F.col("nb").cast("double")
    ln2 = F.log(F.lit(2.0))
    term = (
        F.when((F.col("c1") == 0) & (F.col("c2") == 0), F.lit(0.0))
        .when(F.col("c1") == 0, 0.5 * q * ln2)
        .when(F.col("c2") == 0, 0.5 * p * ln2)
        .otherwise(
            0.5 * p * F.log(2.0 * p / (p + q))
            + 0.5 * q * F.log(2.0 * q / (p + q))
        )
    )
    live = F.when((F.col("c1") > 0) | (F.col("c2") > 0), 1).otherwise(0)
    return (
        cells.select(
            "sa", "sb", live.alias("live"),
            F.floor(term * 1000000000).cast("long").alias("t_e9"),
        )
        .groupBy(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"))
        .agg(
            F.sum("live").cast("long").alias("n_buckets"),
            F.sum("t_e9").cast("long").alias("jsd_e9"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Expected-calibration-error bins (integer-exact reliability diagram)
# ---------------------------------------------------------------------------

@register(
    "ece_calibration_bins",
    oracle="""
    WITH s AS (
      SELECT LEAST(n_chars, 2000) * 500 AS score_e6,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ), b AS (
      SELECT LEAST(score_e6 // 100000, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS pos,
             CAST(SUM(score_e6) AS BIGINT) AS sum_score_e6
      FROM s GROUP BY bin
    )
    SELECT bin, n, pos,
           sum_score_e6 // n AS conf_e6,
           pos * 1000000 // n AS acc_e6,
           abs(sum_score_e6 // n - pos * 1000000 // n) AS gap_e6
    FROM b ORDER BY bin
    """,
    doc="Reliability diagram / expected-calibration-error bins (Guo et "
        "al. 2017) — the eval-pipeline staple, here over a deterministic "
        "stand-in scorer (clamped doc length as confidence that "
        "lang='en') so the BINNING MACHINERY is what's certified: 10 "
        "equal-width confidence bins, per-bin count, positives, mean "
        "confidence, empirical accuracy and |conf - acc| gap. ENTIRELY "
        "64-bit integer arithmetic — scores live at e6 (least(n,2000) * "
        "500), bin = score div 1e5 clamped to 9, means are exact integer "
        "divisions — so both engines agree bit-for-bit with zero float "
        "hazard. Swap the scorer column for a real model score and "
        "nothing else changes. Scale: one map-side-combinable 10-group "
        "aggregate over the scan; everything after runs on 10 rows",
)
def q_ece_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import calibration_scores

    s = calibration_scores(_t(spark, sf_dir, "documents"))
    b = s.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
        F.sum("score_e6").cast("long").alias("sum_score_e6"),
    )
    conf = F.expr("sum_score_e6 div n")
    acc = F.expr("pos * 1000000 div n")
    return b.select(
        "bin", "n", "pos",
        conf.cast("long").alias("conf_e6"),
        acc.cast("long").alias("acc_e6"),
        F.abs(conf - acc).cast("long").alias("gap_e6"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Unicode character-class profile per language
# ---------------------------------------------------------------------------

@register(
    "unicode_script_profile",
    oracle=r"""
    WITH d AS (
      SELECT lang, CAST(length(text) AS BIGINT) AS total,
             CAST(length(text)
                  - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                  AS BIGINT) AS letters,
             CAST(length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS digits,
             CAST(length(text)
                  - length(regexp_replace(text, '[ \t\n]', '', 'g'))
                  AS BIGINT) AS whitespace,
             CAST(length(text)
                  - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS punct
      FROM documents
    ), l AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(GREATEST(SUM(total), 1) AS BIGINT) AS total_chars,
             CAST(SUM(letters) AS BIGINT) AS letters,
             CAST(SUM(digits) AS BIGINT) AS digits,
             CAST(SUM(whitespace) AS BIGINT) AS whitespace,
             CAST(SUM(punct) AS BIGINT) AS punct
      FROM d GROUP BY lang
    )
    SELECT lang, n_docs, total_chars, letters, digits, whitespace, punct,
           total_chars - letters - digits - whitespace - punct AS other,
           letters * 1000000 // total_chars AS letter_frac_e6,
           whitespace * 1000000 // total_chars AS ws_frac_e6
    FROM l ORDER BY lang
    """,
    doc="Character-class profile per language — the cheap script/encoding "
        "sanity gate every multilingual corpus needs (catches mojibake, "
        "markup-heavy and digit-heavy shards before tokenization): exact "
        "counts of ASCII letters, digits, whitespace and core "
        "punctuation via delete-and-length-diff regexp_replace (the "
        "classes are escape-free so RE2 and Java regex agree "
        "character-for-character; \\t\\n are regex escapes in both), "
        "plus the 'other' remainder and e6 fractions by exact integer "
        "division. Scale: four scan-local regex passes per doc, no "
        "shuffle, map-side-combinable rollup to ~5 language rows",
)
def q_unicode_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")

    def removed(pat):
        return (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), pat, ""))
        ).cast("long")

    d = docs.select(
        "lang",
        F.length(F.col("text")).cast("long").alias("total"),
        removed(r"[A-Za-z]").alias("letters"),
        removed(r"[0-9]").alias("digits"),
        removed("[ \t\n]").alias("whitespace"),
        removed(r"[.,;:!?]").alias("punct"),
    )
    lang = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.greatest(F.sum("total"), F.lit(1)).cast("long")
        .alias("total_chars"),
        F.sum("letters").cast("long").alias("letters"),
        F.sum("digits").cast("long").alias("digits"),
        F.sum("whitespace").cast("long").alias("whitespace"),
        F.sum("punct").cast("long").alias("punct"),
    )
    return lang.select(
        "lang", "n_docs", "total_chars", "letters", "digits",
        "whitespace", "punct",
        (F.col("total_chars") - F.col("letters") - F.col("digits")
         - F.col("whitespace") - F.col("punct")).cast("long")
        .alias("other"),
        F.expr("letters * 1000000 div total_chars").cast("long")
        .alias("letter_frac_e6"),
        F.expr("whitespace * 1000000 div total_chars").cast("long")
        .alias("ws_frac_e6"),
    ).orderBy("lang")
