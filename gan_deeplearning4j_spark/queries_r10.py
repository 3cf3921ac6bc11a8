"""Round-10 queries. All 17 wave entries are oracled and were certified at
3 SFs + 3 perturbations with python-replay pins (tests/test_queries_r10.py).
The "Round-10 LIVE additions" banner below appends further queries
(same certification bar).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.dates import epoch_day, in_year
from .registry import _t, register


# ---------------------------------------------------------------------------
# Two-hop reach census over the co-purchase graph
# ---------------------------------------------------------------------------

@register(
    "graph_2hop_reach",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                        AND c.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    und AS (
      SELECT pa AS s, pb AS d FROM e UNION ALL SELECT pb, pa FROM e
    ),
    hop2 AS (
      SELECT u1.s AS node, u2.d AS r FROM und u1 JOIN und u2
        ON u2.s = u1.d AND u2.d <> u1.s
      UNION
      SELECT s AS node, d AS r FROM und
    ),
    reach AS (
      SELECT node, CAST(COUNT(DISTINCT r) AS BIGINT) AS reach2
      FROM hop2 GROUP BY node
    ),
    deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und
            GROUP BY s)
    SELECT r.node, d.deg, r.reach2,
           CAST((r.reach2 - d.deg) AS BIGINT) AS second_ring
    FROM reach r JOIN deg d ON d.node = r.node
    ORDER BY r.reach2 DESC, r.node LIMIT 20
    """,
    doc="Two-hop reach census (friend-of-friend audience size) over the "
        ">=2-common-orders co-purchase graph: per node, the exact count "
        "of distinct nodes within <= 2 hops (self excluded) plus the "
        "second-ring size (reach minus direct degree) — the expansion "
        "measurement behind influence-seeding and cache-warmup "
        "decisions, and the exact quantity bfs_hops_from_hub only "
        "samples from one source. Top-20 by reach. Scale: one two-hop "
        "self-join keyed on the shared middle node (the adamic-adar "
        "shuffle; same hub-degree d^2 caveat — cap top-degree hubs "
        "upstream on power-law graphs), one distinct-count rollup, "
        "TakeOrdered top-k",
)
def q_graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs

    e = co_purchase_pairs(_t(spark, sf_dir, "lineitem"))
    und = e.select(F.col("p1").alias("s"), F.col("p2").alias("d")).union(
        e.select(F.col("p2").alias("s"), F.col("p1").alias("d"))
    ).localCheckpoint(eager=True)  # two consumers: hop2 join + degree
    u1 = und.select(F.col("s").alias("node"), F.col("d").alias("mid"))
    u2 = und.select(F.col("s").alias("mid"), F.col("d").alias("r"))
    hop2 = (
        u1.join(u2, "mid")
        .filter(F.col("r") != F.col("node"))
        .select("node", "r")
        .union(und.select(F.col("s").alias("node"), F.col("d").alias("r")))
        .distinct()
    )
    reach = hop2.groupBy("node").agg(
        F.count("*").cast("long").alias("reach2")
    )
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    return (
        reach.join(deg, "node")
        .select("node", "deg", "reach2",
                (F.col("reach2") - F.col("deg")).cast("long")
                .alias("second_ring"))
        .orderBy(F.desc("reach2"), "node").limit(20)
    )


# ---------------------------------------------------------------------------
# Exponentially time-decayed heavy hitters (half-life counting)
# ---------------------------------------------------------------------------

@register(
    "decayed_heavy_hitters",
    oracle="""
    WITH t0 AS (
      SELECT MAX(epoch_us(ts)) // 86400000000 AS ref_day FROM events
    ), contrib AS (
      SELECT event_type,
             (SELECT ref_day FROM t0) - epoch_us(ts) // 86400000000
               AS age_days
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS raw_count,
           CAST(SUM(CASE WHEN age_days < 20
                         THEN 1000000 // (CAST(1 AS BIGINT) << age_days)
                         ELSE 0 END) AS BIGINT) AS decayed_e6
    FROM contrib GROUP BY event_type
    ORDER BY decayed_e6 DESC, event_type
    """,
    doc="Exponentially time-decayed event-type counts (half-life = 1 "
        "day, anchored at the max event day): each event contributes "
        "floor(1e6 / 2^age_days), zero past 20 days — the recency-"
        "weighted ranking a trending/LRU-style counter keeps, which raw "
        "heavy_hitters_exact (all-time) and events_sliding (hard "
        "cutoff) cannot express. Power-of-two decay keeps every "
        "contribution an exact integer (no float exp), so the sum is "
        "order-free int64. Scale: one map-side-combinable aggregate "
        "over a scan-side age expression + a 1-row anchor probe",
)
def q_decayed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts_nanos div 1000").alias("ts_us")
    )
    t0 = ev.agg(
        F.expr("max(ts_us) div 86400000000").alias("ref_day")
    )
    contrib = ev.crossJoin(F.broadcast(t0)).select(
        "event_type",
        F.expr("ref_day - ts_us div 86400000000").alias("age_days"),
    )
    return contrib.groupBy("event_type").agg(
        F.count("*").cast("long").alias("raw_count"),
        F.sum(
            F.expr(
                "case when age_days < 20"
                " then 1000000 div shiftleft(1L, cast(age_days as int))"
                " else 0 end"
            )
        ).cast("long").alias("decayed_e6"),
    ).orderBy(F.desc("decayed_e6"), "event_type")


# ---------------------------------------------------------------------------
# Zone-map (min/max statistics) pruning audit
# ---------------------------------------------------------------------------

@register(
    "zonemap_prune_audit",
    oracle="""
    WITH files AS (
      SELECT date_trunc('month', l_shipdate) AS file_id,
             CAST(MIN(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS zmin,
             CAST(MAX(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS zmax,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY file_id
    ), preds AS (
      SELECT * FROM (VALUES
        ('narrow_low',  CAST(100000 AS BIGINT), CAST(200000 AS BIGINT)),
        ('mid_band',    CAST(2000000 AS BIGINT), CAST(3000000 AS BIGINT)),
        ('high_tail',   CAST(9000000 AS BIGINT), CAST(99999999 AS BIGINT))
      ) t(pred, lo, hi)
    )
    SELECT pred,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN zmax < lo OR zmin > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pruned,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN zmax < lo OR zmin > hi THEN 0 ELSE n_rows
                    END) AS BIGINT) AS rows_scanned,
           CAST(SUM(CASE WHEN zmax < lo OR zmin > hi THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS prune_ppm
    FROM files, preds GROUP BY pred ORDER BY pred
    """,
    doc="Zone-map pruning audit: ship-month 'files' carry min/max "
        "statistics on price cents (exactly what parquet row groups and "
        "Delta/Iceberg file stats store); three literal range "
        "predicates are tested against every zone to count prunable "
        "files and the rows a stats-aware scan would skip vs read — the "
        "layout-effectiveness worksheet behind sources/layouts.py's "
        "Z-order/partition choices, quantified instead of asserted "
        "(price is uncorrelated with ship month, so prune_ppm ~ 0 for "
        "mid ranges and high for tails — the motivating case FOR "
        "multi-dimensional clustering). Scale: one month rollup + a "
        "3-row literal cross join",
)
def q_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").alias("file_id"),
        F.expr("cast(round(l_extendedprice * 100) as long)").alias("pc"),
    )
    files = li.groupBy("file_id").agg(
        F.min("pc").cast("long").alias("zmin"),
        F.max("pc").cast("long").alias("zmax"),
        F.count("*").cast("long").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        [("narrow_low", 100000, 200000),
         ("mid_band", 2000000, 3000000),
         ("high_tail", 9000000, 99999999)],
        "pred string, lo long, hi long",
    )
    pruned = "zmax < lo or zmin > hi"
    return files.crossJoin(F.broadcast(preds)).groupBy("pred").agg(
        F.count("*").cast("long").alias("n_files"),
        F.count_if(F.expr(pruned)).cast("long").alias("n_pruned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.expr(f"case when {pruned} then 0 else n_rows end"))
        .cast("long").alias("rows_scanned"),
    ).select(
        "pred", "n_files", "n_pruned", "rows_total", "rows_scanned",
        F.expr("n_pruned * 1000000 div n_files").cast("long")
        .alias("prune_ppm"),
    ).orderBy("pred")


# ---------------------------------------------------------------------------
# Qini uplift curve (incremental-response ranking evaluation)
# ---------------------------------------------------------------------------

@register(
    "qini_uplift_curve",
    oracle="""
    WITH users AS (
      SELECT user_id, user_id % 2 AS treated,
             CAST(COUNT(*) AS BIGINT) AS activity,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT treated, purchases,
             (ROW_NUMBER() OVER (ORDER BY activity DESC, user_id) - 1)
               * 10 // (SELECT COUNT(*) FROM users) + 1 AS decile
      FROM users
    ), per AS (
      SELECT decile,
             CAST(SUM(CASE WHEN treated = 1 THEN purchases ELSE 0 END)
                  AS BIGINT) AS rt,
             CAST(SUM(CASE WHEN treated = 0 THEN purchases ELSE 0 END)
                  AS BIGINT) AS rc,
             CAST(SUM(treated) AS BIGINT) AS nt,
             CAST(SUM(1 - treated) AS BIGINT) AS nc
      FROM scored GROUP BY decile
    ), cum AS (
      SELECT decile,
             SUM(rt) OVER w AS crt, SUM(rc) OVER w AS crc,
             SUM(nt) OVER w AS cnt_t, SUM(nc) OVER w AS cnt_c
      FROM per WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile, CAST(crt AS BIGINT) AS cum_treated_resp,
           CAST(crc AS BIGINT) AS cum_control_resp,
           CAST(cnt_t AS BIGINT) AS cum_treated_n,
           CAST(cnt_c AS BIGINT) AS cum_control_n,
           CAST(crt * 1000000 - crc * cnt_t * 1000000 // cnt_c AS BIGINT)
             AS qini_e6
    FROM cum ORDER BY decile
    """,
    doc="Qini uplift curve (Radcliffe 2007): users split into a "
        "synthetic A/B by user_id parity, ranked by activity into "
        "NTILE deciles, then the cumulative incremental response "
        "Q(k) = R_t(k) - R_c(k)*N_t(k)/N_c(k) per decile — the "
        "evaluation curve for incremental-targeting models that plain "
        "conversion metrics (funnel_conversion, decile_lift_table — "
        "which ranks by outcome, not increment) cannot express. Exact: "
        "integer counts, the control-scaling ratio as a truncating e6 "
        "division. Scale: one user rollup + a 10-bucket NTILE (a "
        "single range-partitioned sort) + a bounded 10-row window",
)
def q_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("activity"),
        F.count_if(F.col("event_type") == "purchase").cast("long")
        .alias("purchases"),
    ).select(
        "user_id", (F.col("user_id") % 2).alias("treated"),
        "activity", "purchases",
    )
    # explicit (rn-1)*10 div n deciles, not NTILE: NTILE's remainder
    # distribution is engine-defined; this formula is arithmetic. Ranking
    # runs over |users| pre-aggregated rows (decile_lift_table precedent)
    scored = users.select(
        "treated", "purchases",
        F.row_number().over(
            bounded_window(F.desc("activity"), "user_id")
        ).alias("rn"),
        F.count("*").over(bounded_window()).alias("n_users"),
    ).select(
        "treated", "purchases",
        F.expr("(rn - 1) * 10 div n_users + 1").alias("decile"),
    )
    per = scored.groupBy("decile").agg(
        F.sum(F.expr("case when treated = 1 then purchases else 0 end"))
        .cast("long").alias("rt"),
        F.sum(F.expr("case when treated = 0 then purchases else 0 end"))
        .cast("long").alias("rc"),
        F.sum("treated").cast("long").alias("nt"),
        F.sum(F.expr("1 - treated")).cast("long").alias("nc"),
    )
    wc = bounded_window("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "decile",
        F.sum("rt").over(wc).alias("crt"),
        F.sum("rc").over(wc).alias("crc"),
        F.sum("nt").over(wc).alias("cnt_t"),
        F.sum("nc").over(wc).alias("cnt_c"),
    )
    return cum.select(
        "decile",
        F.col("crt").cast("long").alias("cum_treated_resp"),
        F.col("crc").cast("long").alias("cum_control_resp"),
        F.col("cnt_t").cast("long").alias("cum_treated_n"),
        F.col("cnt_c").cast("long").alias("cum_control_n"),
        F.expr("crt * 1000000 - crc * cnt_t * 1000000 div cnt_c")
        .cast("long").alias("qini_e6"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Local-DP randomized response with exact debiasing
# ---------------------------------------------------------------------------

@register(
    "randomized_response_debias",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) > 0 THEN 1 ELSE 0 END AS truth
      FROM events GROUP BY user_id
    ), reported AS (
      SELECT truth,
             CASE WHEN CAST('0x' || substr(md5('rr1|'
                    || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 < 3
                  THEN truth
                  ELSE CAST('0x' || substr(md5('rr2|'
                    || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2
             END AS report
      FROM users
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(truth) AS BIGINT) AS true_count,
           CAST(SUM(report) AS BIGINT) AS reported_count,
           CAST((8 * SUM(report) - COUNT(*)) // 6 AS BIGINT) AS est_count,
           CAST(abs((8 * SUM(report) - COUNT(*)) // 6 - SUM(truth))
                * 1000000 // COUNT(*) AS BIGINT) AS abs_err_ppm
    FROM reported
    """,
    doc="Local-DP randomized response (Warner JASA 1965 / RAPPOR's "
        "permanent-response core) on the has-purchased bit: each user "
        "reports truth w.p. 3/4, else a fair md5 coin (both coins "
        "md5-derived so the oracle replays the whole mechanism "
        "bit-identically — deterministic simulation of the randomizer, "
        "the same discipline as the sketch family), then the unbiased "
        "inverse estimator t_hat = (8*reported - n)/6 in exact integer "
        "division, compared against ground truth. The collector-side "
        "view dp_contribution_bounds (central DP) does not cover: "
        "privacy applied at the CLIENT, utility measured end-to-end. "
        "Scale: one user rollup + one 1-row aggregate; coins are "
        "scan-side expressions",
)
def q_randomized_response_debias(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.when(
            F.count_if(F.col("event_type") == "purchase") > 0, 1
        ).otherwise(0).alias("truth")
    )
    h60 = ("cast(conv(substr(md5(cast({0} as binary)), 1, 15), 16, 10)"
           " as long)")
    c1 = h60.format("concat('rr1|', cast(user_id as string))")
    c2 = h60.format("concat('rr2|', cast(user_id as string))")
    reported = users.select(
        "truth",
        F.expr(
            f"case when {c1} % 4 < 3 then truth else {c2} % 2 end"
        ).alias("report"),
    )
    return reported.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("truth").cast("long").alias("true_count"),
        F.sum("report").cast("long").alias("reported_count"),
    ).select(
        "n_users", "true_count", "reported_count",
        F.expr("(8 * reported_count - n_users) div 6").cast("long")
        .alias("est_count"),
        F.expr(
            "abs((8 * reported_count - n_users) div 6 - true_count)"
            " * 1000000 div n_users"
        ).cast("long").alias("abs_err_ppm"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes beta-binomial shrinkage of supplier return rates
# ---------------------------------------------------------------------------

@register(
    "empirical_bayes_shrinkage",
    oracle="""
    WITH per AS (
      SELECT l_suppkey,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (
      SELECT CAST(SUM(x) AS BIGINT) AS xx, CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS g
      FROM per
    ), v AS (
      SELECT CAST(SUM(((x * t.nn - t.xx * n) // 1000)
                      * ((x * t.nn - t.xx * n) // 1000) // n) AS BIGINT)
               AS vt
      FROM per, tot t
    ), prior AS (
      SELECT
        CAST(floor(greatest(
          (CAST(xx AS DOUBLE) / nn) * (1.0 - CAST(xx AS DOUBLE) / nn)
            * (CAST(nn AS DOUBLE) * nn * nn)
            / (CAST(vt AS DOUBLE) * 1e6) - 1.0, 1.0)
          * (CAST(xx AS DOUBLE) / nn) * 1000000) AS BIGINT) AS alpha_e6,
        CAST(floor(greatest(
          (CAST(xx AS DOUBLE) / nn) * (1.0 - CAST(xx AS DOUBLE) / nn)
            * (CAST(nn AS DOUBLE) * nn * nn)
            / (CAST(vt AS DOUBLE) * 1e6) - 1.0, 1.0)
          * (1.0 - CAST(xx AS DOUBLE) / nn) * 1000000) AS BIGINT)
          AS beta_e6
      FROM tot, v
    )
    SELECT l_suppkey, x, n,
           CAST(x * 1000000 // n AS BIGINT) AS raw_ppm,
           CAST((x * 1000000 + alpha_e6) * 1000000
                // (n * 1000000 + alpha_e6 + beta_e6) AS BIGINT)
             AS shrunk_ppm,
           CAST(abs(x * 1000000 // n
                    - (x * 1000000 + alpha_e6) * 1000000
                      // (n * 1000000 + alpha_e6 + beta_e6)) AS BIGINT)
             AS shrink_delta_ppm
    FROM per, prior
    ORDER BY shrink_delta_ppm DESC, l_suppkey LIMIT 15
    """,
    doc="Empirical-Bayes beta-binomial shrinkage (Robbins 1956 / the "
        "baseball-batting-average estimator) of per-supplier return "
        "rates: prior strength K from method-of-moments on exact "
        "integer rate moments (weighted rate variance as "
        "per-term-truncated int64, permille-scaled to stay in "
        "headroom), alpha/beta floored to e6 ONCE, then every "
        "supplier's shrunk rate (x+alpha)/(n+alpha+beta) is pure "
        "integer arithmetic — the ranking fix for small-sample "
        "extremes that raw-rate ranking (wilson_ci gives intervals, "
        "not point shrinkage) gets wrong. Top-15 by shrink magnitude "
        "shows exactly whom the prior pulls. Scale: one supplier "
        "rollup + two 1-row moment aggregates broadcast back",
)
def q_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.count_if(F.col("l_returnflag") == "R").cast("long").alias("x"),
        F.count("*").cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("x").cast("long").alias("xx"),
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("g"),
    )
    v = per.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "((x * nn - xx * n) div 1000)"
                " * ((x * nn - xx * n) div 1000) div n"
            )
        ).cast("long").alias("vt")
    )
    k_expr = (
        "greatest((cast(xx as double) / nn) * (1.0 - cast(xx as double)"
        " / nn) * (cast(nn as double) * nn * nn)"
        " / (cast(vt as double) * 1e6) - 1.0, 1.0)"
    )
    prior = tot.crossJoin(F.broadcast(v)).select(
        F.expr(
            f"cast(floor({k_expr} * (cast(xx as double) / nn) * 1000000)"
            " as long)"
        ).alias("alpha_e6"),
        F.expr(
            f"cast(floor({k_expr} * (1.0 - cast(xx as double) / nn)"
            " * 1000000) as long)"
        ).alias("beta_e6"),
    )
    shrunk = ("(x * 1000000 + alpha_e6) * 1000000"
              " div (n * 1000000 + alpha_e6 + beta_e6)")
    return per.crossJoin(F.broadcast(prior)).select(
        "l_suppkey", "x", "n",
        F.expr("x * 1000000 div n").cast("long").alias("raw_ppm"),
        F.expr(shrunk).cast("long").alias("shrunk_ppm"),
        F.expr(f"abs(x * 1000000 div n - {shrunk})").cast("long")
        .alias("shrink_delta_ppm"),
    ).orderBy(F.desc("shrink_delta_ppm"), "l_suppkey").limit(15)


# ---------------------------------------------------------------------------
# Interval scheduling: max non-overlapping order spans per customer
# ---------------------------------------------------------------------------

@register(
    "max_nonoverlap_intervals",
    oracle="""
    WITH RECURSIVE spans AS (
      SELECT o.o_custkey AS cust,
             date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS sd,
             date_diff('day', DATE '1970-01-01',
                       CAST(MAX(l.l_shipdate) AS DATE)) AS ed
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ), lists AS (
      -- element = end*16384 + start (epoch days < 2^14); sorted ascending
      -- = (end, start) order, the earliest-end-first greedy order.
      -- NOTE: the fold runs as a per-customer recursive CTE, NOT
      -- list_reduce: DuckDB v1.0.0's vectorized list_reduce mis-folds
      -- one row in grouped multi-row batches (probed: cust 605 here).
      SELECT cust, CAST(COUNT(*) AS BIGINT) AS n_orders,
             list_sort(list(ed * 16384 + sd)) AS els
      FROM spans GROUP BY cust
    ), walk AS (
      SELECT cust, 0 AS it, CAST(0 AS BIGINT) AS last_end,
             CAST(0 AS BIGINT) AS cnt
      FROM lists
      UNION ALL
      SELECT w.cust, w.it + 1,
             CASE WHEN l.els[w.it + 1] % 16384 > w.last_end
                  THEN l.els[w.it + 1] // 16384 ELSE w.last_end END,
             CASE WHEN l.els[w.it + 1] % 16384 > w.last_end
                  THEN w.cnt + 1 ELSE w.cnt END
      FROM walk w JOIN lists l ON l.cust = w.cust
      WHERE w.it < l.n_orders
    ), final AS (
      SELECT w.cust, l.n_orders, w.cnt AS k_sel
      FROM walk w JOIN lists l ON l.cust = w.cust
      WHERE w.it = l.n_orders
    )
    SELECT CAST(k_sel AS BIGINT) AS k_selected,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders
    FROM final GROUP BY k_sel ORDER BY k_sel
    """,
    doc="Interval scheduling maximization (the classic earliest-"
        "end-first greedy, provably optimal): per customer, the maximum "
        "number of non-overlapping order spans (orderdate .. last "
        "shipdate), folded ENGINE-SIDE over the end-sorted span list — "
        "Spark an F.aggregate fold with (end, start) packed into one "
        "BIGINT element and (last_end, count) packed into the "
        "accumulator (epoch days < 2^14 make both packings exact); the "
        "oracle replays the fold as a per-customer recursive CTE "
        "because DuckDB v1.0.0's vectorized list_reduce mis-folds one "
        "row in grouped multi-row batches (probed in round 9). "
        "Output is the k-selected histogram. The capacity question "
        "max_concurrency_daily (how many overlap) is dual to this one "
        "(how many can be served without overlap). Scale: one "
        "order-keyed rollup + per-customer bounded folds",
)
def q_max_nonoverlap_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("maxship"))
        .select(
            F.col("o_custkey").alias("cust"),
            epoch_day("o_orderdate").cast("long").alias("sd"),
            epoch_day("maxship").cast("long").alias("ed"),
        )
    )
    packed = spans.groupBy("cust").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr(
            "aggregate(array_sort(collect_list(ed * 16384 + sd)), 0L,"
            " (acc, el) -> case when el % 16384 > acc div 1048576"
            " then (el div 16384) * 1048576 + acc % 1048576 + 1"
            " else acc end) % 1048576"
        ).cast("long").alias("k_sel"),
    )
    return packed.groupBy("k_sel").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("n_orders").cast("long").alias("total_orders"),
    ).select(
        F.col("k_sel").alias("k_selected"), "n_customers", "total_orders",
    ).orderBy("k_selected")


# ---------------------------------------------------------------------------
# Neyman optimal stratified-sampling allocation (Hamilton-rounded)
# ---------------------------------------------------------------------------

@register(
    "neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)
                      * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS sxx
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY nk
    ), w AS (
      SELECT nk, n_h,
             CAST(floor(sqrt((CAST(sxx AS DOUBLE) * n_h - CAST(sx AS
               DOUBLE) * sx) / (CAST(n_h AS DOUBLE) * (n_h - 1)))
               * 1000) AS BIGINT) AS s_e3
      FROM strata WHERE n_h > 1
    ), ww AS (
      SELECT nk, n_h, s_e3, n_h * s_e3 AS wt,
             (SELECT SUM(n_h * s_e3) FROM w) AS wtot
      FROM w
    ), seats AS (
      SELECT nk, n_h, s_e3, wt,
             1000 * wt // wtot AS base,
             (1000 * wt) % wtot AS rem,
             1000 - (SELECT SUM(1000 * wt // wtot) FROM ww) AS leftover
      FROM ww
    )
    SELECT n.n_name, s.n_h, s.s_e3,
           CAST(s.base + CASE WHEN RANK() OVER (ORDER BY s.rem DESC, s.nk)
                              <= s.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM seats s JOIN nation n ON n.n_nationkey = s.nk
    ORDER BY n.n_name
    """,
    doc="Neyman optimal allocation (Neyman JRSS 1934) of a 1000-sample "
        "survey budget across nation strata: allocation proportional to "
        "N_h * S_h, the per-stratum order-value std from exact integer "
        "moments in whole dollars (one sqrt per stratum — a correctly-"
        "rounded IEEE op, not a transcendental — floored to e3 once), "
        "then Hamilton largest-remainder rounding to integer seats "
        "(exact integer quotas; ties by nation key). The DESIGN step "
        "ahead of stratified_sample (which executes a given "
        "allocation): minimum-variance budget split for a mean "
        "estimate. Scale: one stratum rollup + a 25-row bounded "
        "ranking window",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    strata = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").alias("nk"),
            F.expr("cast(round(o_totalprice) as long)").alias("xd"),
        )
        .groupBy("nk")
        .agg(
            F.count("*").cast("long").alias("n_h"),
            F.sum("xd").cast("long").alias("sx"),
            F.sum(F.expr("xd * xd")).cast("long").alias("sxx"),
        )
    )
    w = strata.filter(F.col("n_h") > 1).select(
        "nk", "n_h",
        F.expr(
            "cast(floor(sqrt((cast(sxx as double) * n_h"
            " - cast(sx as double) * sx)"
            " / (cast(n_h as double) * (n_h - 1))) * 1000) as long)"
        ).alias("s_e3"),
    ).withColumn("wt", F.expr("n_h * s_e3"))
    tot = w.agg(F.sum("wt").cast("long").alias("wtot"))
    seats = w.crossJoin(F.broadcast(tot)).select(
        "nk", "n_h", "s_e3",
        F.expr("1000 * wt div wtot").cast("long").alias("base"),
        F.expr("(1000 * wt) % wtot").cast("long").alias("rem"),
    )
    lo = seats.agg(
        (F.lit(1000) - F.sum("base")).cast("long").alias("leftover")
    )
    ranked = seats.crossJoin(F.broadcast(lo)).select(
        "nk", "n_h", "s_e3", "base", "leftover",
        F.rank().over(bounded_window(F.desc("rem"), "nk")).alias("rk"),
    )
    return (
        ranked.join(F.broadcast(nation),
                    ranked.nk == F.col("n_nationkey"))
        .select(
            "n_name", "n_h", "s_e3",
            F.expr(
                "cast(base + case when rk <= leftover then 1 else 0 end"
                " as long)"
            ).alias("alloc"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Exact KNN-Shapley data valuation (closed form, no sampling)
# ---------------------------------------------------------------------------

@register(
    "knn_shapley_values",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            e -> CAST(floor(e * 1024) AS BIGINT)) AS qv
      FROM embeddings
    ), test AS (SELECT * FROM q WHERE vec_id < 5),
    train AS (SELECT * FROM q WHERE vec_id >= 5),
    dist AS (
      SELECT t.vec_id AS query_id, tr.vec_id AS vec_id,
             CAST(list_sum(list_transform(range(1, len(t.qv) + 1),
               i -> (t.qv[i] - tr.qv[i]) * (t.qv[i] - tr.qv[i])))
               AS BIGINT) AS d2,
             CASE WHEN tr.label = t.label THEN 1 ELSE 0 END AS ind
      FROM test t, train tr
    ), ranked AS (
      SELECT query_id, vec_id, d2, ind,
             ROW_NUMBER() OVER w AS rn,
             LEAD(ind) OVER w AS ind_next,
             COUNT(*) OVER (PARTITION BY query_id) AS n
      FROM dist WINDOW w AS (PARTITION BY query_id ORDER BY d2, vec_id)
    ), scored AS (
      -- the farthest point's base value ind_N/N seeds the suffix sum so
      -- EVERY rank inherits it (the recurrence s_i = s_(i+1) + ...)
      SELECT query_id, vec_id, d2, rn,
             SUM(CASE WHEN rn = n THEN ind * (1000000000 // n)
                      ELSE (ind - ind_next)
                           * (1000000000 // GREATEST(3, rn)) END)
               OVER (PARTITION BY query_id ORDER BY rn DESC
                     ROWS UNBOUNDED PRECEDING) AS s_e9
      FROM ranked
    )
    SELECT query_id, vec_id, CAST(s_e9 AS BIGINT) AS shapley_e9
    FROM (SELECT query_id, vec_id, s_e9,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY s_e9 DESC, vec_id) AS rk
          FROM scored)
    WHERE rk <= 5 ORDER BY query_id, vec_id
    """,
    doc="Exact KNN-Shapley data valuation (Jia et al. PVLDB'19 closed "
        "form, K=3): for each of 5 test embeddings, every training "
        "point's exact Shapley value under the KNN-utility game via the "
        "sorted-distance recurrence s_i = s_(i+1) + (1[y_i=y] - "
        "1[y_(i+1)=y]) / max(K, i) — computed as a suffix sum over the "
        "distance ranking (window ordered rn DESC), each term floored "
        "to e9 BEFORE summing so the whole valuation is order-free "
        "int64 (distances are exact integer L2 on floor(e*1024) "
        "coordinates — the pca/pq quantization). Top-5 most valuable "
        "training points per query. The data-VALUATION member of the "
        "influence family (loo_group_influence is leave-one-GROUP-out; "
        "this is exact per-POINT Shapley, no sampling). Scale: one "
        "broadcast of the bounded query set against the corpus (the "
        "brute_force_topk shape), one query-keyed window",
)
def q_knn_shapley_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(embedding,"
               " e -> cast(floor(cast(e as double) * 1024) as long))")
        .alias("qv"),
    )
    test = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"),
        F.col("qv").alias("tq"),
    )
    train = emb.filter(F.col("vec_id") >= 5)
    dist = train.crossJoin(F.broadcast(test)).select(
        "query_id", "vec_id",
        F.expr(
            "cast(aggregate(zip_with(tq, qv, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x) as long)"
        ).alias("d2"),
        F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
        .alias("ind"),
    )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    ranked = dist.select(
        "query_id", "vec_id", "d2", "ind",
        F.row_number().over(w).alias("rn"),
        F.lead("ind").over(w).alias("ind_next"),
        F.count("*").over(Window.partitionBy("query_id")).alias("n"),
    )
    wsuf = (
        Window.partitionBy("query_id").orderBy(F.desc("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the farthest point's base value ind_N/N seeds the suffix sum so
    # EVERY rank inherits it (the recurrence s_i = s_(i+1) + ...); the
    # python-replay pin caught the base being applied only at rn = n
    scored = ranked.select(
        "query_id", "vec_id",
        F.sum(
            F.expr(
                "case when rn = n then ind * (1000000000 div n)"
                " else (ind - ind_next)"
                " * (1000000000 div greatest(3, rn)) end"
            )
        ).over(wsuf).cast("long").alias("s_e9"),
    )
    wtop = Window.partitionBy("query_id").orderBy(
        F.desc("s_e9"), "vec_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.col("s_e9").alias("shapley_e9"))
        .orderBy("query_id", "vec_id")
    )


# ---------------------------------------------------------------------------
# Dynamic time warping between nation demand series
# ---------------------------------------------------------------------------

_DTW_INF = 10 ** 15


@register(
    "dtw_distance_pairs",
    oracle=f"""
    WITH RECURSIVE q AS (
      SELECT c.c_nationkey AS nk,
             (year(o.o_orderdate) - 1970) * 4
               + (month(o.o_orderdate) - 1) // 3 AS qi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY nk, qi
    ), top4 AS (
      SELECT nk FROM q GROUP BY nk
      ORDER BY SUM(n) DESC, nk LIMIT 4
    ), spine AS (
      SELECT t.nk AS nk, s.qi AS qi
      FROM top4 t, (SELECT unnest(range((SELECT MIN(qi) FROM q),
                                        (SELECT MAX(qi) FROM q) + 1))
                    AS qi) s
    ), series AS (
      SELECT sp.nk, sp.qi,
             ROW_NUMBER() OVER (PARTITION BY sp.nk ORDER BY sp.qi) AS j,
             COALESCE(q.n, 0) AS v
      FROM spine sp LEFT JOIN q ON q.nk = sp.nk AND q.qi = sp.qi
    ), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM series
             WHERE nk = (SELECT MIN(nk) FROM top4)),
    costs AS (
      SELECT a.nk AS na, b.nk AS nb, sa.j AS i, sb.j AS j,
             abs(sa.v - sb.v) AS c
      FROM top4 a JOIN top4 b ON b.nk > a.nk
      JOIN series sa ON sa.nk = a.nk
      JOIN series sb ON sb.nk = b.nk
    ), walk AS (
      SELECT na, nb, 0 AS i,
             list_transform(range(1, CAST((SELECT m FROM m) AS INTEGER)
                                     + 1),
                            x -> CAST(1000000000000000 AS BIGINT)) AS drow
      FROM (SELECT DISTINCT na, nb FROM costs)
      UNION ALL
      SELECT na, nb, i, list(newd ORDER BY j) AS drow FROM (
        -- two stacked layers: DuckDB rejects window-in-window
        SELECT na, nb, i, j,
               p + MIN(pmin - (p - c))
                     OVER (PARTITION BY na, nb ORDER BY j
                           ROWS UNBOUNDED PRECEDING) AS newd
        FROM (
          SELECT na, nb, i, j, pmin, c,
                 SUM(c) OVER (PARTITION BY na, nb ORDER BY j
                              ROWS UNBOUNDED PRECEDING) AS p
          FROM (
            SELECT u.na, u.nb, u.i, u.j,
                   least(COALESCE(lag(u.dprev)
                           OVER (PARTITION BY u.na, u.nb ORDER BY u.j),
                         CASE WHEN u.i = 1 THEN 0
                              ELSE CAST(1000000000000000 AS BIGINT) END),
                         u.dprev) AS pmin,
                   ct.c AS c
            FROM (
              SELECT w.na, w.nb, w.i + 1 AS i,
                     unnest(range(1, len(w.drow) + 1)) AS j,
                     unnest(w.drow) AS dprev
              FROM walk w WHERE w.i < (SELECT m FROM m)
            ) u JOIN costs ct ON ct.na = u.na AND ct.nb = u.nb
                              AND ct.i = u.i AND ct.j = u.j
          )
        )
      ) GROUP BY na, nb, i
    )
    SELECT w.na AS nation_a, w.nb AS nation_b,
           CAST((SELECT m FROM m) AS BIGINT) AS n_quarters,
           CAST(w.drow[CAST((SELECT m FROM m) AS INTEGER)] AS BIGINT)
             AS dtw_cost
    FROM walk w WHERE w.i = (SELECT m FROM m)
    ORDER BY nation_a, nation_b
    """,
    doc="Dynamic time warping (Sakoe & Chiba 1978) between the quarterly "
        "order-count series of the top-4 nations (6 pairs): exact "
        "integer DTW via the prefix-min reformulation D_i(j) = P(j) + "
        "min_k<=j(pmin(k) - P(k-1)) — each DP row becomes ONE window "
        "pass instead of a sequential cell scan, so Spark runs a "
        "bounded calendar-length iteration of window passes over the "
        "(pair, j) grid and DuckDB replays it as a recursive CTE with "
        "windows over the unnested recursive row. The elastic-alignment "
        "distance ccf_lead_lag (fixed shift) cannot express. Scale: "
        "the grid is pairs x quarters (calendar-bounded); each "
        "iteration is one pair-keyed window shuffle",
)
def q_dtw_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    q = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_nationkey").alias("nk"),
            ((F.year("o_orderdate") - 1970) * 4
             + F.expr("(month(o_orderdate) - 1) div 3")).alias("qi"),
        )
        .groupBy("nk", "qi").agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    top4 = (
        q.groupBy("nk").agg(F.sum("n").alias("tot"))
        .orderBy(F.desc("tot"), "nk").limit(4).select("nk")
        .localCheckpoint(eager=True)
    )
    bounds = q.agg(F.min("qi").alias("lo"), F.max("qi").alias("hi"))
    spine = top4.crossJoin(F.broadcast(bounds)).select(
        "nk", F.explode(F.expr("sequence(lo, hi)")).alias("qi")
    )
    series = (
        spine.join(q, ["nk", "qi"], "left")
        .select(
            "nk", "qi", F.coalesce("n", F.lit(0)).cast("long").alias("v")
        )
        .withColumn(
            "j", F.row_number().over(
                Window.partitionBy("nk").orderBy("qi")
            )
        )
        .localCheckpoint(eager=True)
    )
    m = series.groupBy("nk").count().agg(
        F.max("count").cast("int").alias("m")
    ).first()["m"]
    a = top4.select(F.col("nk").alias("na"))
    b = top4.select(F.col("nk").alias("nb"))
    sa = series.select(F.col("nk").alias("na"), F.col("j").alias("i"),
                       F.col("v").alias("va"))
    sb = series.select(F.col("nk").alias("nb"), F.col("j").alias("j"),
                       F.col("v").alias("vb"))
    costs = (
        a.crossJoin(b).filter(F.col("nb") > F.col("na"))
        .join(sa, "na").join(sb, "nb")
        .select("na", "nb", "i", "j",
                F.abs(F.col("va") - F.col("vb")).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    inf = _DTW_INF
    d = costs.select("na", "nb", "j").distinct().select(
        "na", "nb", "j", F.lit(inf).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    wj = (
        Window.partitionBy("na", "nb").orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("na", "nb").orderBy("j")
    for i in range(1, m + 1):
        row = (
            costs.filter(F.col("i") == i)
            .join(d, ["na", "nb", "j"])
        )
        default = 0 if i == 1 else inf
        row = row.select(
            "na", "nb", "j", "c",
            F.least(
                F.coalesce(F.lag("d").over(wl), F.lit(default)),
                F.col("d"),
            ).alias("pmin"),
        )
        d = row.select(
            "na", "nb", "j",
            (
                F.sum("c").over(wj)
                + F.min(
                    F.col("pmin") - (F.sum("c").over(wj) - F.col("c"))
                ).over(wj)
            ).cast("long").alias("d"),
        ).localCheckpoint(eager=True)
    return (
        d.filter(F.col("j") == m)
        .select(
            F.col("na").alias("nation_a"), F.col("nb").alias("nation_b"),
            F.lit(m).cast("long").alias("n_quarters"),
            F.col("d").alias("dtw_cost"),
        )
        .orderBy("nation_a", "nation_b")
    )


# ---------------------------------------------------------------------------
# Huffman optimal code lengths over the event-type alphabet
# ---------------------------------------------------------------------------

@register(
    "huffman_code_lengths",
    oracle="""
    WITH RECURSIVE syms AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS f,
             ROW_NUMBER() OVER (ORDER BY event_type) AS idx
      FROM events GROUP BY event_type
    ), packed AS (
      SELECT list(lpad(CAST(f AS VARCHAR), 10, '0') || ':'
                  || CAST(idx AS VARCHAR) ORDER BY idx) AS nodes,
             list_transform(list(idx), x -> CAST(0 AS BIGINT)) AS depths,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM syms
    ), walk AS (
      SELECT 0 AS it, nodes, depths, k FROM packed
      UNION ALL
      SELECT w.it + 1,
             list_append(list_sort(w.nodes)[3:], lpad(CAST(CAST(string_split(list_sort(w.nodes)[1], ':')[1] AS BIGINT) + CAST(string_split(list_sort(w.nodes)[2], ':')[1] AS BIGINT) AS VARCHAR), 10, '0') || ':' || string_split(list_sort(w.nodes)[1], ':')[2] || ',' || string_split(list_sort(w.nodes)[2], ':')[2]),
             list_transform(range(1, CAST(w.k AS INTEGER) + 1), i ->
               w.depths[i] + CASE WHEN strpos(',' || string_split(list_sort(w.nodes)[1], ':')[2] || ',' || string_split(list_sort(w.nodes)[2], ':')[2] || ',', ',' || CAST(i AS VARCHAR) || ',') > 0 THEN 1 ELSE 0 END),
             w.k
      FROM walk w WHERE w.it < w.k - 1
    )
    SELECT s.event_type, s.f AS freq,
           CAST(w.depths[CAST(s.idx AS INTEGER)] AS BIGINT) AS code_len,
           CAST(s.f * w.depths[CAST(s.idx AS INTEGER)] AS BIGINT)
             AS weighted_bits
    FROM walk w, syms s WHERE w.it = w.k - 1
    ORDER BY s.event_type
    """,
    doc="Huffman optimal prefix-code construction (Huffman 1952) over "
        "the event-type frequency alphabet: the two lightest nodes merge "
        "each round (ties broken by the zero-padded weight:index string, "
        "identical memcmp order in both engines), a symbol's code length "
        "= the number of merges containing it. Output freq, code length "
        "and weighted bits per symbol — the optimal-coding counterpart "
        "of event_type_entropy (the entropy is the lower bound this "
        "code provably approaches within 1 bit/symbol; the pytest pin "
        "asserts both Kraft equality and optimality vs brute force). "
        "The alphabet-sized merge loop folds ENGINE-SIDE: Spark an "
        "F.aggregate struct over k-1 steps, DuckDB a single-row "
        "recursive CTE. Scale: one map-side-combinable frequency "
        "rollup; the Huffman fold is alphabet-sized, independent of "
        "corpus size",
)
def q_huffman_code_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    ev = _t(spark, sf_dir, "events")
    syms = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("f")
    ).select(
        "event_type", "f",
        F.row_number().over(
            # bounded: the alphabet is the distinct event-type set
            bounded_window("event_type")
        ).alias("idx"),
    ).localCheckpoint(eager=True)
    packed = syms.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(idx, f))),"
            " s -> concat(lpad(cast(s.f as string), 10, '0'), ':',"
            " cast(s.idx as string)))"
        ).alias("nodes0"),
        F.count("*").cast("long").alias("k"),
    )
    fold = packed.select(
        "k",
        F.expr("aggregate( if(k >= 2, sequence(1L, k - 1), array()), named_struct('nodes', nodes0,  'depths', transform(sequence(1, cast(k as int)),                      i -> 0L)), (a, step) -> named_struct( 'nodes', concat(slice(array_sort(a.nodes), 3,                        size(a.nodes) - 2),                 array(concat(lpad(cast(cast(element_at(split(element_at(array_sort(a.nodes), 1), ':'), 1) as bigint) + cast(element_at(split(element_at(array_sort(a.nodes), 2), ':'), 1) as bigint) as string), 10, '0'), ':', element_at(split(element_at(array_sort(a.nodes), 1), ':'), 2), ',', element_at(split(element_at(array_sort(a.nodes), 2), ':'), 2)))),  'depths', transform(sequence(1, cast(k as int)), i ->    element_at(a.depths, i) + if(instr(concat(',', element_at(split(element_at(array_sort(a.nodes), 1), ':'), 2), ',', element_at(split(element_at(array_sort(a.nodes), 2), ':'), 2), ','), concat(',', cast(i as string), ',')) > 0, 1L, 0L))))").alias("st"),
    )
    depths = fold.select(
        F.posexplode("st.depths").alias("pos0", "code_len")
    ).select(
        (F.col("pos0") + 1).cast("long").alias("idx"),
        F.col("code_len").cast("long"),
    )
    return (
        syms.join(depths, "idx")
        .select(
            "event_type", F.col("f").alias("freq"), "code_len",
            (F.col("f") * F.col("code_len")).cast("long")
            .alias("weighted_bits"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Seasonal-hybrid MAD anomaly detection (STL-lite remainder + robust scale)
# ---------------------------------------------------------------------------

@register(
    "stl_mad_anomalies",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY day
    ), spine AS (
      SELECT d.day AS day, COALESCE(dd.x, 0) AS x
      FROM (SELECT unnest(range((SELECT MIN(day) FROM daily),
                                (SELECT MAX(day) FROM daily) + 1)) AS day) d
      LEFT JOIN daily dd ON dd.day = d.day
    ), tr AS (
      SELECT day, x,
             CASE WHEN ROW_NUMBER() OVER wd > 3
                   AND ROW_NUMBER() OVER (ORDER BY day DESC) > 3
                  THEN SUM(x) OVER (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) // 7
             END AS trend
      FROM spine WINDOW wd AS (ORDER BY day)
    ), det AS (
      SELECT day, x, trend, x - trend AS dt, day % 7 AS dow
      FROM tr WHERE trend IS NOT NULL
    ), seas AS (
      SELECT dow, CAST(SUM(dt) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
               AS s
      FROM det GROUP BY dow
    ), rem AS (
      SELECT d.day, d.x, d.dt - se.s AS r
      FROM det d JOIN seas se ON se.dow = d.dow
    ), med AS (
      SELECT MIN(v) AS med FROM (
        SELECT r AS v,
               SUM(COUNT(*)) OVER (ORDER BY r
                 ROWS UNBOUNDED PRECEDING) AS cum,
               (SELECT COUNT(*) FROM rem) AS n
        FROM rem GROUP BY r
      ) WHERE cum * 2 >= n + 1
    ), madt AS (
      SELECT MIN(v) AS mad FROM (
        SELECT abs(r - (SELECT med FROM med)) AS v,
               SUM(COUNT(*)) OVER (ORDER BY abs(r - (SELECT med FROM med))
                 ROWS UNBOUNDED PRECEDING) AS cum,
               (SELECT COUNT(*) FROM rem) AS n
        FROM rem GROUP BY v
      ) WHERE cum * 2 >= n + 1
    )
    SELECT day, x, CAST(r AS BIGINT) AS remainder,
           CAST(abs(r - (SELECT med FROM med)) AS BIGINT) AS deviation,
           CAST((SELECT mad FROM madt) AS BIGINT) AS mad
    FROM rem
    WHERE abs(r - (SELECT med FROM med)) > 3 * (SELECT mad FROM madt)
    ORDER BY day
    """,
    doc="Seasonal-hybrid MAD anomaly detection (the S-H-ESD recipe, "
        "Hochenbaum et al. 2017, with the exact-integer robust-scale "
        "core): STL-lite remainder (centered 7-day MA trend as "
        "truncating integer division, per-dow seasonal means of the "
        "detrended series) scored by |r - median| > 3*MAD, both median "
        "and MAD exact lower medians over the bounded value histogram "
        "(the dp_contribution percentile discipline, no float "
        "quantiles). Emits the anomalous days with their deviation and "
        "the MAD scale. stl_lite_decomposition DESCRIBES the series; "
        "this one flags what breaks it — and zscore_outlier_counts' "
        "mean/std scoring is exactly what heavy anomalies corrupt "
        "(masking), which MAD resists. Scale: one day rollup, two "
        "bounded-window passes over the series, two histogram medians",
)
def q_stl_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        epoch_day("o_orderdate").cast("long").alias("day")
    ).groupBy("day").agg(F.count("*").cast("long").alias("x"))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("day")
    ).join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    w_ma = bounded_window("day").rowsBetween(-3, 3)
    w_fwd = bounded_window("day")
    w_bwd = bounded_window(F.desc("day"))
    tr = spine.select(
        "day", "x",
        F.sum("x").over(w_ma).alias("ma7"),
        F.row_number().over(w_fwd).alias("rf"),
        F.row_number().over(w_bwd).alias("rb"),
    )
    det = tr.filter((F.col("rf") > 3) & (F.col("rb") > 3)).select(
        "day", "x",
        (F.col("x") - F.expr("ma7 div 7")).alias("dt"),
        (F.col("day") % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        F.expr("sum(dt) div count(*)").alias("s")
    )
    rem = det.join(F.broadcast(seas), "dow").select(
        "day", "x", (F.col("dt") - F.col("s")).alias("r")
    ).localCheckpoint(eager=True)

    def _histmed(df, col):
        hist = df.groupBy(col).agg(F.count("*").alias("t"))
        wc = bounded_window(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.select(
            col, F.sum("t").over(wc).alias("cum"),
            F.sum("t").over(bounded_window()).alias("n"),
        )
        return cum.filter(F.expr("cum * 2 >= n + 1")).agg(
            F.min(col).alias("m")
        )

    med = _histmed(rem, "r")
    dev = rem.crossJoin(F.broadcast(med)).select(
        "day", "x", "r", F.abs(F.col("r") - F.col("m")).alias("deviation")
    ).localCheckpoint(eager=True)
    mad = _histmed(dev.select(F.col("deviation").alias("v")), "v")
    return (
        dev.crossJoin(F.broadcast(mad.select(F.col("m").alias("mad"))))
        .filter(F.col("deviation") > 3 * F.col("mad"))
        .select("day", "x", F.col("r").alias("remainder"),
                F.col("deviation").cast("long").alias("deviation"),
                F.col("mad").cast("long").alias("mad"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Greedy maximum-weight bipartite matching (customer-supplier assignment)
# ---------------------------------------------------------------------------

@register(
    "greedy_assignment_matching",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS wt
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY c, s
    ), top AS (
      SELECT c, s, wt, ROW_NUMBER() OVER (ORDER BY wt DESC, c, s) AS rn
      FROM w ORDER BY wt DESC, c, s LIMIT 200
    ), walk AS (
      SELECT 0 AS it, ',' AS uc, ',' AS us,
             CAST(0 AS BIGINT) AS tot, CAST(0 AS BIGINT) AS k
      UNION ALL
      SELECT w2.it + 1,
             CASE WHEN strpos(w2.uc, ',' || CAST(t.c AS VARCHAR) || ',')
                       = 0
                   AND strpos(w2.us, ',' || CAST(t.s AS VARCHAR) || ',')
                       = 0
                  THEN w2.uc || CAST(t.c AS VARCHAR) || ','
                  ELSE w2.uc END,
             CASE WHEN strpos(w2.uc, ',' || CAST(t.c AS VARCHAR) || ',')
                       = 0
                   AND strpos(w2.us, ',' || CAST(t.s AS VARCHAR) || ',')
                       = 0
                  THEN w2.us || CAST(t.s AS VARCHAR) || ','
                  ELSE w2.us END,
             CASE WHEN strpos(w2.uc, ',' || CAST(t.c AS VARCHAR) || ',')
                       = 0
                   AND strpos(w2.us, ',' || CAST(t.s AS VARCHAR) || ',')
                       = 0
                  THEN w2.tot + t.wt ELSE w2.tot END,
             CASE WHEN strpos(w2.uc, ',' || CAST(t.c AS VARCHAR) || ',')
                       = 0
                   AND strpos(w2.us, ',' || CAST(t.s AS VARCHAR) || ',')
                       = 0
                  THEN w2.k + 1 ELSE w2.k END
      FROM walk w2 JOIN top t ON t.rn = w2.it + 1
    )
    SELECT CAST((SELECT COUNT(*) FROM top) AS BIGINT)
             AS n_edges_considered,
           CAST(k AS BIGINT) AS n_matched,
           CAST(tot AS BIGINT) AS total_weight_c
    FROM walk WHERE it = (SELECT COUNT(*) FROM top)
    """,
    doc="Greedy maximum-weight bipartite matching of customers to "
        "suppliers by trade volume (the 1/2-approximation every "
        "assignment pipeline starts from): the top-200 heaviest "
        "(customer, supplier) edges scan in weight order and an edge "
        "joins the matching iff both endpoints are free — a sequential "
        "fold over the BOUNDED candidate list (Spark F.aggregate with "
        "csv-membership state, DuckDB a single-chain recursive CTE; "
        "used-sets as delimiter-guarded strings, the lz78 encoding). "
        "The combinatorial-assignment member next to knapsack (budget), "
        "greedy_max_coverage (sets) and gonzalez_kcenter (metric). "
        "Scale: one (c, s) rollup + a TakeOrdered top-200; the fold is "
        "candidate-bounded, never corpus-sized",
)
def q_greedy_assignment_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    w = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"),
                 F.col("l_suppkey").alias("s"))
        .agg(F.expr("sum(cast(round(l_extendedprice * 100) as long))")
             .alias("wt"))
    )
    top = w.orderBy(F.desc("wt"), "c", "s").limit(200)
    packed = top.agg(
        F.expr(
            "array_sort(collect_list(struct(-wt as nw, c, s, wt)))"
        ).alias("es"),
        F.count("*").cast("long").alias("n"),
    )
    take = ("instr(a.uc, concat(',', cast(e.c as string), ',')) = 0"
            " and instr(a.us, concat(',', cast(e.s as string), ',')) = 0")
    fold = packed.select(
        "n",
        F.expr(
            "aggregate(es,"
            " named_struct('uc', ',', 'us', ',', 'tot', 0L, 'k', 0L),"
            " (a, e) -> named_struct("
            f" 'uc', if({take}, concat(a.uc, cast(e.c as string), ','),"
            "           a.uc),"
            f" 'us', if({take}, concat(a.us, cast(e.s as string), ','),"
            "           a.us),"
            f" 'tot', if({take}, a.tot + e.wt, a.tot),"
            f" 'k', if({take}, a.k + 1, a.k)))"
        ).alias("st"),
    )
    return fold.select(
        F.col("n").alias("n_edges_considered"),
        F.col("st.k").cast("long").alias("n_matched"),
        F.col("st.tot").cast("long").alias("total_weight_c"),
    )


# ---------------------------------------------------------------------------
# Epsilon-greedy bandit offline replay (Li et al. WSDM'11 replay method)
# ---------------------------------------------------------------------------

@register(
    "bandit_replay_egreedy",
    oracle="""
    WITH RECURSIVE arms AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY event_type) AS aidx
      FROM (SELECT DISTINCT event_type FROM events)
    ), stream AS (
      SELECT a.aidx,
             CASE WHEN CAST(round(e.value * 100) AS BIGINT) > 5000
                  THEN 1 ELSE 0 END AS r,
             e.event_id AS eid,
             ROW_NUMBER() OVER (ORDER BY epoch_us(e.ts), e.event_id) AS rn
      FROM events e JOIN arms a ON a.event_type = e.event_type
      ORDER BY epoch_us(e.ts), e.event_id LIMIT 2000
    ), k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM arms),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM stream),
    walk AS (
      SELECT 0 AS it,
             list_transform(range(1, CAST((SELECT k FROM k) AS INTEGER)
                                     + 1), x -> CAST(0 AS BIGINT))
               AS pulls,
             list_transform(range(1, CAST((SELECT k FROM k) AS INTEGER)
                                     + 1), x -> CAST(0 AS BIGINT))
               AS rews
      UNION ALL
      SELECT w.it + 1,
             list_transform([CASE WHEN CAST('0x' || substr(md5('eg|' || CAST(s.eid AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0 THEN CAST(CAST('0x' || substr(md5('ega|' || CAST(s.eid AS VARCHAR)), 1, 15) AS BIGINT) % len(w.pulls) + 1 AS BIGINT) WHEN list_position(w.pulls, 0) > 0 THEN CAST(list_position(w.pulls, 0) AS BIGINT) ELSE CAST(list_position(list_transform(range(1, len(w.pulls) + 1), i -> CASE WHEN w.pulls[i] = 0 THEN -1 ELSE w.rews[i] * 1000000 // w.pulls[i] END), list_max(list_transform(range(1, len(w.pulls) + 1), i -> CASE WHEN w.pulls[i] = 0 THEN -1 ELSE w.rews[i] * 1000000 // w.pulls[i] END))) AS BIGINT) END], ch ->
               list_transform(range(1, len(w.pulls) + 1), i ->
                 w.pulls[i] + CASE WHEN i = ch AND ch = s.aidx
                              THEN 1 ELSE 0 END))[1],
             list_transform([CASE WHEN CAST('0x' || substr(md5('eg|' || CAST(s.eid AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0 THEN CAST(CAST('0x' || substr(md5('ega|' || CAST(s.eid AS VARCHAR)), 1, 15) AS BIGINT) % len(w.pulls) + 1 AS BIGINT) WHEN list_position(w.pulls, 0) > 0 THEN CAST(list_position(w.pulls, 0) AS BIGINT) ELSE CAST(list_position(list_transform(range(1, len(w.pulls) + 1), i -> CASE WHEN w.pulls[i] = 0 THEN -1 ELSE w.rews[i] * 1000000 // w.pulls[i] END), list_max(list_transform(range(1, len(w.pulls) + 1), i -> CASE WHEN w.pulls[i] = 0 THEN -1 ELSE w.rews[i] * 1000000 // w.pulls[i] END))) AS BIGINT) END], ch ->
               list_transform(range(1, len(w.rews) + 1), i ->
                 w.rews[i] + CASE WHEN i = ch AND ch = s.aidx
                              THEN s.r ELSE 0 END))[1]
      FROM walk w JOIN stream s ON s.rn = w.it + 1
    )
    SELECT a.event_type,
           CAST(w.pulls[CAST(a.aidx AS INTEGER)] AS BIGINT) AS pulls,
           CAST(w.rews[CAST(a.aidx AS INTEGER)] AS BIGINT) AS reward_sum,
           CAST(w.rews[CAST(a.aidx AS INTEGER)] * 1000000
                // GREATEST(w.pulls[CAST(a.aidx AS INTEGER)], 1)
                AS BIGINT) AS mean_ppm
    FROM walk w, arms a WHERE w.it = (SELECT n FROM n)
    ORDER BY a.event_type
    """,
    doc="Epsilon-greedy multi-armed bandit evaluated offline by the "
        "replay method (Li et al. WSDM'11): arms = event types; the "
        "first 2000 logged events stream in time order, the policy "
        "picks an arm (explore w.p. 1/4 on an md5 coin, else "
        "untried-first then argmax empirical mean, ties lowest arm), "
        "and only steps where the pick matches the logged arm update "
        "state — the unbiased off-policy estimator. Rewards = "
        "value > $50. Every coin is md5-derived and every mean an "
        "integer ppm division, so the whole sequential policy replays "
        "hash-exactly (Spark: F.aggregate over the bounded log; DuckDB: "
        "per-step recursive CTE). The sequential-decision member of "
        "the experimentation family (sprt_purchase_rate is a "
        "sequential TEST; this is sequential ALLOCATION). Scale: "
        "TakeOrdered log prefix + alphabet-sized state",
)
def q_bandit_replay_egreedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    ev = _t(spark, sf_dir, "events")
    arms = ev.select("event_type").distinct().select(
        "event_type",
        F.row_number().over(bounded_window("event_type")).alias("aidx"),
    ).localCheckpoint(eager=True)
    stream = (
        ev.join(F.broadcast(arms), "event_type")
        .select(
            F.expr("ts_nanos div 1000").alias("ts_us"), "event_id",
            F.col("aidx").cast("long").alias("aidx"),
            F.expr("if(cast(round(value * 100) as long) > 5000, 1L, 0L)")
            .alias("r"),
            F.col("event_id").alias("eid"),
        )
        .orderBy("ts_us", "event_id").limit(2000)
    )
    packed = stream.agg(
        F.expr(
            "array_sort(collect_list(struct(ts_us, event_id, aidx, r,"
            " eid)))"
        ).alias("stream"),
    ).crossJoin(
        F.broadcast(arms.agg(F.count("*").cast("long").alias("k")))
    )
    fold = packed.select(
        F.expr("aggregate(stream, named_struct( 'pulls', transform(sequence(1, cast(k as int)), x -> 0L), 'rews', transform(sequence(1, cast(k as int)), x -> 0L)), (a, e) -> named_struct( 'pulls', transform(sequence(1, size(a.pulls)), i ->   element_at(a.pulls, i) + if(i = (case when cast(conv(substr(md5(cast(concat('eg|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % 4 = 0 then cast(conv(substr(md5(cast(concat('ega|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % size(a.pulls) + 1 when array_position(a.pulls, 0L) > 0 then array_position(a.pulls, 0L) else array_position(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end), array_max(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end))) end)     and (case when cast(conv(substr(md5(cast(concat('eg|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % 4 = 0 then cast(conv(substr(md5(cast(concat('ega|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % size(a.pulls) + 1 when array_position(a.pulls, 0L) > 0 then array_position(a.pulls, 0L) else array_position(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end), array_max(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end))) end) = e.aidx, 1L, 0L)), 'rews', transform(sequence(1, size(a.rews)), i ->   element_at(a.rews, i) + if(i = (case when cast(conv(substr(md5(cast(concat('eg|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % 4 = 0 then cast(conv(substr(md5(cast(concat('ega|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % size(a.pulls) + 1 when array_position(a.pulls, 0L) > 0 then array_position(a.pulls, 0L) else array_position(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end), array_max(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end))) end)     and (case when cast(conv(substr(md5(cast(concat('eg|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % 4 = 0 then cast(conv(substr(md5(cast(concat('ega|', cast(e.eid as string)) as binary)), 1, 15), 16, 10) as long) % size(a.pulls) + 1 when array_position(a.pulls, 0L) > 0 then array_position(a.pulls, 0L) else array_position(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end), array_max(transform(sequence(1, size(a.pulls)), i -> case when element_at(a.pulls, i) = 0 then -1L else element_at(a.rews, i) * 1000000 div element_at(a.pulls, i) end))) end) = e.aidx, e.r, 0L))))").alias("st")
    )
    per_arm = fold.select(
        F.posexplode("st.pulls").alias("pos0", "pulls"),
    ).select(
        (F.col("pos0") + 1).cast("long").alias("aidx"),
        F.col("pulls").cast("long"),
    ).join(
        fold.select(
            F.posexplode("st.rews").alias("pos0", "reward_sum")
        ).select(
            (F.col("pos0") + 1).cast("long").alias("aidx"),
            F.col("reward_sum").cast("long"),
        ),
        "aidx",
    )
    return (
        arms.join(per_arm, "aidx")
        .select(
            "event_type", "pulls", "reward_sum",
            F.expr("reward_sum * 1000000 div greatest(pulls, 1)")
            .cast("long").alias("mean_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Exact optimal-partitioning changepoint detection (Bellman DP)
# ---------------------------------------------------------------------------

@register(
    "optimal_partition_changepoints",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice / 1000) AS BIGINT))
                  AS BIGINT) AS kd
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY day
    ), spine AS (
      SELECT d.day AS day, COALESCE(dd.kd, 0) AS kd
      FROM (SELECT unnest(range(
              date_diff('day', DATE '1970-01-01', DATE '1996-01-01'),
              date_diff('day', DATE '1970-01-01', DATE '1997-01-01')))
            AS day) d
      LEFT JOIN daily dd ON dd.day = d.day
    ), seq AS (
      SELECT day, kd, ROW_NUMBER() OVER (ORDER BY day) AS j,
             SUM(kd) OVER w AS sx, SUM(kd * kd) OVER w AS sxx
      FROM spine WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ), packed AS (
      SELECT list_prepend(CAST(0 AS BIGINT), list(sx ORDER BY j)) AS sxl,
             list_prepend(CAST(0 AS BIGINT), list(sxx ORDER BY j)) AS sxxl,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(day) AS BIGINT) AS day0
      FROM seq
    ), dp AS (
      SELECT 0 AS j, [CAST(0 AS BIGINT)] AS f, [CAST(0 AS BIGINT)] AS bp,
             sxl, sxxl, n, day0
      FROM packed
      UNION ALL
      SELECT d.j + 1,
             list_append(d.f, list_min(list_transform(range(0, d.j + 1), i -> d.f[CAST(i AS INTEGER) + 1] + d.sxxl[CAST(d.j AS INTEGER) + 2] - d.sxxl[CAST(i AS INTEGER) + 1] - (d.sxl[CAST(d.j AS INTEGER) + 2] - d.sxl[CAST(i AS INTEGER) + 1]) * (d.sxl[CAST(d.j AS INTEGER) + 2] - d.sxl[CAST(i AS INTEGER) + 1]) // (d.j + 1 - i) + 3000000))),
             list_append(d.bp,
                         CAST(list_position(list_transform(range(0, d.j + 1), i -> d.f[CAST(i AS INTEGER) + 1] + d.sxxl[CAST(d.j AS INTEGER) + 2] - d.sxxl[CAST(i AS INTEGER) + 1] - (d.sxl[CAST(d.j AS INTEGER) + 2] - d.sxl[CAST(i AS INTEGER) + 1]) * (d.sxl[CAST(d.j AS INTEGER) + 2] - d.sxl[CAST(i AS INTEGER) + 1]) // (d.j + 1 - i) + 3000000), list_min(list_transform(range(0, d.j + 1), i -> d.f[CAST(i AS INTEGER) + 1] + d.sxxl[CAST(d.j AS INTEGER) + 2] - d.sxxl[CAST(i AS INTEGER) + 1] - (d.sxl[CAST(d.j AS INTEGER) + 2] - d.sxl[CAST(i AS INTEGER) + 1]) * (d.sxl[CAST(d.j AS INTEGER) + 2] - d.sxl[CAST(i AS INTEGER) + 1]) // (d.j + 1 - i) + 3000000))) - 1
                              AS BIGINT)),
             d.sxl, d.sxxl, d.n, d.day0
      FROM dp d WHERE d.j < d.n
    ), final AS (
      SELECT f, bp, n, day0, sxl FROM dp WHERE j = n
    ), walkback AS (
      SELECT CAST(n AS BIGINT) AS e FROM final
      UNION ALL
      SELECT CAST(fi.bp[CAST(w.e AS INTEGER) + 1] AS BIGINT)
      FROM walkback w, final fi WHERE w.e > 0
    )
    SELECT CAST(fi.day0 + fi.bp[CAST(w.e AS INTEGER) + 1] AS BIGINT)
             AS seg_start_day,
           CAST(fi.day0 + w.e - 1 AS BIGINT) AS seg_end_day,
           CAST(w.e - fi.bp[CAST(w.e AS INTEGER) + 1] AS BIGINT) AS n_days,
           CAST((fi.sxl[CAST(w.e AS INTEGER) + 1]
                 - fi.sxl[CAST(fi.bp[CAST(w.e AS INTEGER) + 1] AS INTEGER)
                          + 1])
                // (w.e - fi.bp[CAST(w.e AS INTEGER) + 1]) AS BIGINT)
             AS mean_kd
    FROM walkback w, final fi WHERE w.e > 0
    ORDER BY seg_start_day
    """,
    doc="Exact optimal-partitioning changepoint detection (Bellman "
        "segmentation / the DP inside PELT, Jackson et al. 2005) on the "
        "1996 daily revenue series (k$ scale, dense zero-filled spine): "
        "F(j) = min over i of F(i) + SSE(i+1..j) + beta, SSE from exact "
        "integer prefix sums with the (sum)^2/len term as truncating "
        "integer division, beta = 3e6 k$^2 (chosen by a sweep: 1e6 over-segments the flat TPC-H series into 43 pieces, 1e7 collapses it to one; 3e6 yields a 5-segment optimum at the sf0.01 gate). Emits the GLOBALLY optimal "
        "segmentation (start/end day, length, segment mean) recovered "
        "by a backpointer walk — changepoint_single_split finds the "
        "best SINGLE break; this finds the best set of breaks jointly. "
        "Engine-side throughout: Spark one F.aggregate DP fold + one "
        "backpointer fold, DuckDB a recursive CTE per DP row + a "
        "recursive backpointer chain. Scale: the DP is O(n^2) in the "
        "SERIES length (calendar-bounded, 366), independent of table "
        "size; the scan is one filtered day rollup",
)
def q_optimal_partition_changepoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .functions.windows import bounded_window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.filter(
        in_year("o_orderdate", 1996)
    ).select(
        epoch_day("o_orderdate").cast("long").alias("day"),
        F.expr("cast(round(o_totalprice / 1000) as long)").alias("kd"),
    ).groupBy("day").agg(F.sum("kd").cast("long").alias("kd"))
    lo = epoch_day(F.lit("1996-01-01")).cast("long")
    hi = epoch_day(F.lit("1996-12-31")).cast("long")
    spine = spark.range(1).select(
        F.explode(F.sequence(lo, hi)).alias("day")
    ).join(daily, "day", "left").select(
        "day", F.coalesce("kd", F.lit(0)).cast("long").alias("kd")
    )
    wc = bounded_window("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = spine.select(
        "day", "kd",
        F.sum("kd").over(wc).alias("sx"),
        F.sum(F.expr("kd * kd")).over(wc).alias("sxx"),
    )
    packed = seq.agg(
        F.expr(
            "concat(array(0L), transform(array_sort(collect_list("
            "struct(day, sx))), s -> s.sx))"
        ).alias("sxl"),
        F.expr(
            "concat(array(0L), transform(array_sort(collect_list("
            "struct(day, sxx))), s -> s.sxx))"
        ).alias("sxxl"),
        F.count("*").cast("long").alias("n"),
        F.min("day").cast("long").alias("day0"),
    ).localCheckpoint(eager=True)
    dp = packed.select(
        "sxl", "n", "day0",
        F.expr("aggregate(if(n >= 1, sequence(1L, n), array()), named_struct('f', array(0L), 'bp', array(0L)), (a, jn) -> named_struct( 'f', concat(a.f, array(array_min(transform(sequence(0L, jn - 1), i -> element_at(a.f, cast(i as int) + 1) + element_at(sxxl, cast(jn as int) + 1) - element_at(sxxl, cast(i as int) + 1) - (element_at(sxl, cast(jn as int) + 1) - element_at(sxl, cast(i as int) + 1)) * (element_at(sxl, cast(jn as int) + 1) - element_at(sxl, cast(i as int) + 1)) div (jn - i) + 3000000L)))), 'bp', concat(a.bp, array(cast(array_position(transform(sequence(0L, jn - 1), i -> element_at(a.f, cast(i as int) + 1) + element_at(sxxl, cast(jn as int) + 1) - element_at(sxxl, cast(i as int) + 1) - (element_at(sxl, cast(jn as int) + 1) - element_at(sxl, cast(i as int) + 1)) * (element_at(sxl, cast(jn as int) + 1) - element_at(sxl, cast(i as int) + 1)) div (jn - i) + 3000000L), array_min(transform(sequence(0L, jn - 1), i -> element_at(a.f, cast(i as int) + 1) + element_at(sxxl, cast(jn as int) + 1) - element_at(sxxl, cast(i as int) + 1) - (element_at(sxl, cast(jn as int) + 1) - element_at(sxl, cast(i as int) + 1)) * (element_at(sxl, cast(jn as int) + 1) - element_at(sxl, cast(i as int) + 1)) div (jn - i) + 3000000L))) - 1 as bigint)))))").alias("st"),
    ).select(
        "sxl", "n", "day0", F.col("st.f").alias("f"),
        F.col("st.bp").alias("bp"),
    )
    segs = dp.select(
        "sxl", "n", "day0", "bp",
        F.expr("aggregate(if(n >= 1, sequence(1L, n), array()), named_struct('ends', cast(array() as array<bigint>), 'e', n), (a, step) -> if(a.e > 0, named_struct('ends', concat(a.ends, array(a.e)),  'e', element_at(bp, cast(a.e as int) + 1)), a))").alias("wk"),
    ).select(
        "sxl", "day0", "bp",
        F.explode("wk.ends").alias("e"),
    )
    return segs.select(
        F.expr("day0 + element_at(bp, cast(e as int) + 1)").cast("long")
        .alias("seg_start_day"),
        F.expr("day0 + e - 1").cast("long").alias("seg_end_day"),
        F.expr("e - element_at(bp, cast(e as int) + 1)").cast("long")
        .alias("n_days"),
        F.expr(
            "(element_at(sxl, cast(e as int) + 1)"
            " - element_at(sxl, cast(element_at(bp, cast(e as int) + 1)"
            " as int) + 1))"
            " div (e - element_at(bp, cast(e as int) + 1))"
        ).cast("long").alias("mean_kd"),
    ).orderBy("seg_start_day")


# ---------------------------------------------------------------------------
# Weighted interval scheduling (exact DP; the optimal the greedy can miss)
# ---------------------------------------------------------------------------

# element packing: hi*2^31 + lo*2^17 + w  (epoch days < 2^14, value
# k-cents < 2^17); ascending packed order == (hi, lo, w) order, the DP's
# end-sorted order. M list is 1-based with M[1] = 0 (empty prefix).

@register(
    "weighted_interval_schedule",
    oracle="""
    WITH RECURSIVE spans AS (
      SELECT o.o_custkey AS cust,
             LEAST(date_diff('day', DATE '1970-01-01',
                             CAST(o.o_orderdate AS DATE)),
                   date_diff('day', DATE '1970-01-01',
                             CAST(MAX(l.l_shipdate) AS DATE))) AS lo,
             GREATEST(date_diff('day', DATE '1970-01-01',
                                CAST(o.o_orderdate AS DATE)),
                      date_diff('day', DATE '1970-01-01',
                                CAST(MAX(l.l_shipdate) AS DATE))) AS hi,
             CAST(round(o.o_totalprice * 100) AS BIGINT) // 1000 AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ), lists AS (
      SELECT cust, CAST(COUNT(*) AS BIGINT) AS n,
             list_sort(list(hi * 2147483648 + lo * 131072 + w)) AS els
      FROM spans GROUP BY cust
    ), walk AS (
      SELECT cust, 0 AS it, [CAST(0 AS BIGINT)] AS m FROM lists
      UNION ALL
      SELECT w2.cust, w2.it + 1,
             list_append(w2.m, GREATEST(
               w2.m[w2.it + 1],
               l.els[w2.it + 1] % 131072
               + w2.m[len(list_filter(l.els[1:w2.it],
                   e -> e // 2147483648
                        < (l.els[w2.it + 1] // 131072) % 16384)) + 1]))
      FROM walk w2 JOIN lists l ON l.cust = w2.cust
      WHERE w2.it < l.n
    )
    SELECT w3.cust AS custkey, l.n AS n_orders,
           CAST(w3.m[CAST(l.n AS INTEGER) + 1] AS BIGINT) AS best_value_kc
    FROM walk w3 JOIN lists l ON l.cust = w3.cust AND w3.it = l.n
    ORDER BY best_value_kc DESC, custkey LIMIT 15
    """,
    doc="Weighted interval scheduling by exact DP (the CLRS classic: "
        "M(i) = max(M(i-1), w_i + M(p(i))), p(i) = last compatible "
        "predecessor): per customer, the maximum total VALUE of "
        "non-overlapping order spans — the optimum that "
        "max_nonoverlap_intervals' earliest-end greedy (count-optimal, "
        "value-blind) can miss. Intervals end-sorted with (hi, lo, w) "
        "packed into one int64; p(i) = prefix count of ends before "
        "lo_i (ends sorted, so compatibility is a prefix property); the "
        "M table folds per customer through a recursive-CTE walk / "
        "F.aggregate. Top-15 customers by optimal value. Scale: one "
        "order rollup + customer-bounded folds, TakeOrdered top-k",
)
def q_weighted_interval_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.max("l_shipdate").alias("maxship"))
        .select(
            F.col("o_custkey").alias("cust"),
            F.least(
                epoch_day("o_orderdate"),
                epoch_day("maxship"),
            ).cast("long").alias("lo"),
            F.greatest(
                epoch_day("o_orderdate"),
                epoch_day("maxship"),
            ).cast("long").alias("hi"),
            F.expr("cast(round(o_totalprice * 100) as long) div 1000")
            .alias("w"),
        )
    )
    lists = spans.groupBy("cust").agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "array_sort(collect_list(hi * 2147483648L + lo * 131072L + w))"
        ).alias("els"),
    )
    fold = lists.select(
        F.col("cust").alias("custkey"), F.col("n").alias("n_orders"),
        F.expr(
            "aggregate(sequence(1L, n), array(0L), (m, i) ->"
            " concat(m, array(greatest("
            "  element_at(m, cast(i as int)),"
            "  element_at(els, cast(i as int)) % 131072"
            "  + element_at(m, cast(size(filter(slice(els, 1,"
            "      cast(i as int) - 1), e -> e div 2147483648"
            "      < (element_at(els, cast(i as int)) div 131072)"
            "        % 16384)) as int) + 1)))))"
        ).alias("m"),
    )
    return fold.select(
        "custkey", "n_orders",
        F.expr("element_at(m, cast(n_orders as int) + 1)").cast("long")
        .alias("best_value_kc"),
    ).orderBy(F.desc("best_value_kc"), "custkey").limit(15)


# ---------------------------------------------------------------------------
# Selinger join-order advisor (textbook cardinality estimation, exact stats)
# ---------------------------------------------------------------------------

@register(
    "join_order_advisor",
    oracle="""
    WITH st AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_c,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_o,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_l,
             (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
              FROM customer) AS d_c_ck,
             (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
              FROM orders) AS d_o_ck,
             (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
              FROM orders) AS d_o_ok,
             (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
              FROM lineitem) AS d_l_ok
    ), plans AS (
      SELECT 'co_then_l' AS plan,
             n_c * n_o // GREATEST(d_c_ck, d_o_ck) AS est_intermediate,
             (n_c * n_o // GREATEST(d_c_ck, d_o_ck)) * n_l
               // GREATEST(d_o_ok, d_l_ok) AS est_final
      FROM st
      UNION ALL
      SELECT 'ol_then_c' AS plan,
             n_o * n_l // GREATEST(d_o_ok, d_l_ok) AS est_intermediate,
             (n_o * n_l // GREATEST(d_o_ok, d_l_ok)) * n_c
               // GREATEST(d_c_ck, d_o_ck) AS est_final
      FROM st
    )
    SELECT plan, CAST(est_intermediate AS BIGINT) AS est_intermediate,
           CAST(est_final AS BIGINT) AS est_final,
           CAST(est_intermediate + est_final AS BIGINT) AS est_cost,
           CAST(CASE WHEN est_intermediate + est_final = (
                  SELECT MIN(est_intermediate + est_final) FROM plans)
                THEN 1 ELSE 0 END AS BIGINT) AS is_winner
    FROM plans ORDER BY plan
    """,
    doc="Selinger join-order advisor (System R, Selinger et al. "
        "SIGMOD'79): for customer JOIN orders JOIN lineitem, estimate "
        "both join orders' intermediate and final cardinalities with "
        "the textbook formula |R JOIN S| = |R|*|S|/max(ndv_R(k), "
        "ndv_S(k)) from EXACT table stats (the numbers a CBO keeps in "
        "its catalog; here computed live), cost = sum of intermediates, "
        "flag the winner — the reasoning Catalyst's own join reordering "
        "does, surfaced as an auditable query so a planner regression "
        "is diagnosable from data (join_skew_profile measures the "
        "actual join; this predicts it). All integer division. Scale: "
        "three count-distinct rollups; the estimation math is "
        "literal-sized",
)
def q_join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    st = (
        c.agg(F.count("*").cast("long").alias("n_c"),
              F.countDistinct("c_custkey").cast("long").alias("d_c_ck"))
        .crossJoin(
            o.agg(F.count("*").cast("long").alias("n_o"),
                  F.countDistinct("o_custkey").cast("long")
                  .alias("d_o_ck"),
                  F.countDistinct("o_orderkey").cast("long")
                  .alias("d_o_ok"))
        )
        .crossJoin(
            li.agg(F.count("*").cast("long").alias("n_l"),
                   F.countDistinct("l_orderkey").cast("long")
                   .alias("d_l_ok"))
        )
        .localCheckpoint(eager=True)
    )
    co = st.select(
        F.lit("co_then_l").alias("plan"),
        F.expr("n_c * n_o div greatest(d_c_ck, d_o_ck)")
        .alias("est_intermediate"),
        F.expr(
            "(n_c * n_o div greatest(d_c_ck, d_o_ck)) * n_l"
            " div greatest(d_o_ok, d_l_ok)"
        ).alias("est_final"),
    )
    ol = st.select(
        F.lit("ol_then_c").alias("plan"),
        F.expr("n_o * n_l div greatest(d_o_ok, d_l_ok)")
        .alias("est_intermediate"),
        F.expr(
            "(n_o * n_l div greatest(d_o_ok, d_l_ok)) * n_c"
            " div greatest(d_c_ck, d_o_ck)"
        ).alias("est_final"),
    )
    plans = co.unionByName(ol).localCheckpoint(eager=True)
    best = plans.agg(
        F.min(F.expr("est_intermediate + est_final")).alias("best")
    )
    return (
        plans.crossJoin(F.broadcast(best))
        .select(
            "plan",
            F.col("est_intermediate").cast("long"),
            F.col("est_final").cast("long"),
            F.expr("est_intermediate + est_final").cast("long")
            .alias("est_cost"),
            F.expr(
                "case when est_intermediate + est_final = best"
                " then 1 else 0 end"
            ).cast("long").alias("is_winner"),
        )
        .orderBy("plan")
    )


# ===========================================================================
# Round-10 LIVE additions — written mid-round after the wave flip, registered
# unconditionally alongside the wave (same lifecycle as the round-9 live
# additions in queries_r9.py). Focus: Spark 4 SQL/API surfaces the engine had
# not yet exercised (native recursive CTE, SQL scalar UDFs, LATERAL
# correlated subqueries, UDTF TABLE arguments, collations) plus
# pipeline-pull operators (entity resolution, weighted SSSP, temperature
# mixture weights, span/chunk alignment). Each is certified the house way
# before registration: 3 SFs + strict parity + shuffle3/noaqe/noansi +
# python-replay pin.
# ===========================================================================


# ---------------------------------------------------------------------------
# Spark 4 native recursive CTE — hierarchy walk without a driver loop
# ---------------------------------------------------------------------------

@register(
    "recursive_cte_part_hierarchy",
    oracle="""
    WITH RECURSIVE walk(node, depth, cents) AS (
      SELECT CAST(p_partkey AS BIGINT),
             0,
             CAST(round(p_retailprice * 100) AS BIGINT)
      FROM part WHERE p_partkey = 0
      UNION ALL
      SELECT p.p_partkey, w.depth + 1,
             CAST(round(p.p_retailprice * 100) AS BIGINT)
      FROM walk w JOIN part p
        ON (p.p_partkey - 1) // 4 = w.node AND p.p_partkey > 0
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(node) AS BIGINT) AS sum_key
    FROM walk GROUP BY depth ORDER BY depth
    """,
    doc="Spark 4 NATIVE recursive CTE (WITH RECURSIVE reached GA in Spark "
        "4.0; every other iterative query in this engine runs a driver "
        "loop with localCheckpoint because pre-4.0 Spark had no "
        "fixpoint operator — this entry pins the new planner path end to "
        "end): walk the implicit part quad-tree parent(k)=(k-1) div 4 "
        "from root 0, carrying depth and exact retail cents, then census "
        "each level (count, cents, id-sum). The recursion is "
        "data-terminated (each part has exactly one parent, so the walk "
        "visits every key once and the frontier empties at the leaf "
        "level ~log4(N)). Scale: each recursive step is one equi-join of "
        "the previous frontier against the static dimension — the same "
        "O(depth) shuffle schedule the hand-rolled BFS loop produces, "
        "but planned by Catalyst's UnionLoop with no Python round-trips. "
        "The oracle replays the identical recursion in DuckDB "
        "(// = div).",
)
def q_recursive_cte_part_hierarchy(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH RECURSIVE walk(node, depth, cents) AS (
          SELECT CAST(p_partkey AS BIGINT) AS node,
                 0 AS depth,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS cents
          FROM part WHERE p_partkey = 0
          UNION ALL
          SELECT p.p_partkey, w.depth + 1,
                 CAST(round(p.p_retailprice * 100) AS BIGINT)
          FROM walk w JOIN part p
            ON (p.p_partkey - 1) div 4 = w.node AND p.p_partkey > 0
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(SUM(node) AS BIGINT) AS sum_key
        FROM walk GROUP BY depth ORDER BY depth
    """)


# ---------------------------------------------------------------------------
# Spark 4 SQL scalar UDF — macro-inlined, stays inside codegen
# ---------------------------------------------------------------------------

@register(
    "sql_udf_quality_score",
    oracle="""
    WITH scored AS (
      SELECT lang,
             100 * (length(text) - length(replace(text, ' ', '')) + 1)
             - 17 * (length(text) - length(replace(text, ',', '')))
             - 23 * (length(text) - length(replace(text, '.', '')))
             + n_chars AS score
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM scored GROUP BY lang ORDER BY lang
    """,
    doc="Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN "
        "expr — the declarative UDF surface added in Spark 4.0, distinct "
        "from the Python UDF / pandas UDF / UDTF rows this engine "
        "already pins): a document quality score written ONCE as a named "
        "SQL function (word count minus punctuation penalties plus "
        "n_chars, all exact int64) and applied per document, aggregated "
        "per language. The point the plan pin enforces: a SQL UDF is "
        "macro-expanded by the analyzer, so the scoring expression "
        "lands INSIDE WholeStageCodegen with no BatchEvalPython / "
        "Arrow-exchange node — the zero-cost abstraction path for shared "
        "business logic at 100 TB. Oracle inlines the same expression.",
)
def q_sql_udf_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import register_tables

    register_tables(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION r10_doc_score(
            t STRING, nc BIGINT) RETURNS BIGINT
        RETURN 100 * (length(t) - length(replace(t, ' ', '')) + 1)
             - 17 * (length(t) - length(replace(t, ',', '')))
             - 23 * (length(t) - length(replace(t, '.', '')))
             + nc
    """)
    return spark.sql("""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(r10_doc_score(text, n_chars)) AS BIGINT)
                 AS sum_score,
               CAST(MIN(r10_doc_score(text, n_chars)) AS BIGINT)
                 AS min_score,
               CAST(MAX(r10_doc_score(text, n_chars)) AS BIGINT)
                 AS max_score
        FROM documents GROUP BY lang ORDER BY lang
    """)


# ---------------------------------------------------------------------------
# LATERAL correlated subquery with ORDER BY ... LIMIT (decorrelation path)
# ---------------------------------------------------------------------------

@register(
    "lateral_topk_acctbal",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.bal_cents
    FROM nation n, LATERAL (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer WHERE c_nationkey = n.n_nationkey
      ORDER BY bal_cents DESC, c_custkey LIMIT 3
    ) c
    ORDER BY n.n_name, c.bal_cents DESC, c.c_custkey
    """,
    doc="SQL LATERAL correlated subquery with per-row ORDER BY ... LIMIT "
        "(top-3 account balances per nation, ties pinned by custkey): the "
        "decorrelation surface — Spark's analyzer must rewrite the "
        "correlated limit into a DomainJoin/window form rather than "
        "re-executing the inner query per outer row, which is exactly "
        "the property that makes LATERAL usable against a 100 TB fact "
        "(one exchange on the correlation key, same physical shape as "
        "the engine's top_k_per_group operator — this entry pins that "
        "the SQL-standard spelling reaches the same plan family). "
        "DuckDB runs the identical LATERAL text.",
)
def q_lateral_topk_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        SELECT n.n_name, c.c_custkey, c.bal_cents
        FROM nation n, LATERAL (
          SELECT c_custkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer WHERE c_nationkey = n.n_nationkey
          ORDER BY bal_cents DESC, c_custkey LIMIT 3
        ) c
        ORDER BY n.n_name, c.bal_cents DESC, c.c_custkey
    """)


# ---------------------------------------------------------------------------
# Spark 4 collations — case-insensitive grouping without lower() rewrites
# ---------------------------------------------------------------------------

@register(
    "collation_lcase_grouping",
    oracle="""
    WITH v AS (
      SELECT CASE CAST(p_partkey % 3 AS INT)
               WHEN 0 THEN p_type || ' ' || p_brand
               WHEN 1 THEN upper(p_type || ' ' || p_brand)
               ELSE lower(p_type || ' ' || p_brand)
             END AS s
      FROM part
    )
    SELECT lower(min(s)) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT s) AS BIGINT) AS n_variants
    FROM v GROUP BY lower(s) ORDER BY grp
    """,
    doc="Spark 4 collated-string grouping (COLLATE UTF8_LCASE, the "
        "collation support added in Spark 4.0): part type+brand labels "
        "are deterministically re-cased three ways (as-is / upper / "
        "lower by partkey mod 3), then grouped by the value CAST to "
        "STRING COLLATE UTF8_LCASE — the declarative alternative to "
        "sprinkling lower() around every comparison, and the planner "
        "path (collation-aware hash/compare inside codegen) is distinct "
        "from an expression rewrite, which is why it gets its own pin. "
        "Output per case-insensitive class: binary-min representative "
        "(lowered — deterministic), row count, and the count of DISTINCT "
        "binary variants collapsed into the class. The oracle replays "
        "with lower()-grouping, which is semantically identical for "
        "these ASCII labels. Scale: one exchange on the collation key, "
        "same as any groupBy.",
)
def q_collation_lcase_grouping(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH v AS (
          SELECT CASE CAST(p_partkey % 3 AS INT)
                   WHEN 0 THEN p_type || ' ' || p_brand
                   WHEN 1 THEN upper(p_type || ' ' || p_brand)
                   ELSE lower(p_type || ' ' || p_brand)
                 END AS s
          FROM part
        )
        SELECT lower(min(s)) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS n_variants
        FROM v GROUP BY CAST(s AS STRING COLLATE UTF8_LCASE)
        ORDER BY grp
    """)


# ---------------------------------------------------------------------------
# Spark 4 UDTF TABLE argument with PARTITION BY / ORDER BY
# ---------------------------------------------------------------------------

@register(
    "udtf_table_partition_sessions",
    oracle="""
    WITH u AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), o AS (
      SELECT user_id, event_id, us,
             CASE WHEN us - lag(us) OVER w > 1800000000
                  OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), s AS (
      -- event_id tiebreak here too: on a us tie the new_s=1 flag sits on
      -- the (us,event_id)-first row, so the running sum must frame peers
      -- in the same order or a tied row could inherit the prior session
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ), per AS (
      SELECT user_id, sid, COUNT(*) AS n, MAX(us) - MIN(us) AS span
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events,
           CAST(MAX(span) AS BIGINT) AS max_session_span_us
    FROM per GROUP BY user_id ORDER BY user_id
    """,
    doc="Spark 4 UDTF TABLE argument with PARTITION BY ... ORDER BY (the "
        "polymorphic-table-function surface added in Spark 4.0 — the "
        "existing token_rle_udtf entry pins only the LATERAL scalar-arg "
        "form): a per-user 30-minute-gap sessionizer written as a Python "
        "UDTF that receives each user's events AS A PARTITION in "
        "timestamp order and emits one summary row (sessions, events, "
        "max session size, max session span). Semantically a twin of the "
        "JVM-side ★sessionize window query — registered to pin the API "
        "path (partition routing, intra-partition ordering, terminate() "
        "emission), not as the scale recommendation: the engine's hot "
        "path for this stays the Catalyst window form; a UDTF partition "
        "is the escape hatch for state machines windows cannot express. "
        "Scale: one exchange on user_id; per-partition state is O(1). "
        "Ties on us are span/count-invariant, so the output is "
        "order-stable. Oracle replays the gap logic with lag/cumsum.",
)
def q_udtf_table_partition_sessions(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from pyspark.sql.functions import udtf

    from .sql import register_tables

    @udtf(returnType="user_id bigint, n_sessions bigint, n_events bigint, "
                      "max_session_events bigint, max_session_span_us bigint")
    class GapSessions:
        GAP_US = 1_800_000_000

        def __init__(self):
            self.uid = None
            self.prev = None
            self.start = None
            self.cur_n = 0
            self.sessions = 0
            self.events = 0
            self.max_n = 0
            self.max_span = 0

        def _close(self):
            if self.cur_n:
                self.sessions += 1
                self.max_n = max(self.max_n, self.cur_n)
                self.max_span = max(self.max_span, self.prev - self.start)

        def eval(self, row):
            self.uid = row["user_id"]
            us = row["us"]
            if self.prev is not None and us - self.prev > self.GAP_US:
                self._close()
                self.cur_n = 0
            if self.cur_n == 0:
                self.start = us
            self.cur_n += 1
            self.events += 1
            self.prev = us

        def terminate(self):
            self._close()
            if self.uid is not None:
                yield (self.uid, self.sessions, self.events,
                       self.max_n, self.max_span)

    register_tables(spark, sf_dir)
    spark.udtf.register("__r10_gap_sessions", GapSessions)
    return spark.sql("""
        SELECT * FROM __r10_gap_sessions(
          TABLE(SELECT user_id, unix_micros(ts) AS us, event_id
                FROM events)
          PARTITION BY user_id ORDER BY (us, event_id)
        ) ORDER BY user_id
    """)


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing weights (UniMax/T5-style, tau = 2)
# ---------------------------------------------------------------------------

@register(
    "temperature_mixture_weights",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), isq AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(n_docs)) AS BIGINT)
             + CASE WHEN (CAST(floor(sqrt(n_docs)) AS BIGINT) + 1)
                         * (CAST(floor(sqrt(n_docs)) AS BIGINT) + 1)
                         <= n_docs THEN 1 ELSE 0 END
             - CASE WHEN CAST(floor(sqrt(n_docs)) AS BIGINT)
                         * CAST(floor(sqrt(n_docs)) AS BIGINT)
                         > n_docs THEN 1 ELSE 0 END AS s
      FROM counts
    ), tot AS (
      SELECT SUM(s) AS ts FROM isq
    ), base AS (
      SELECT lang, n_docs, s,
             (1000000 * s) // (SELECT ts FROM tot) AS w0,
             (1000000 * s) % (SELECT ts FROM tot) AS rem
      FROM isq
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
             (SELECT 1000000 - SUM(w0) FROM base) AS leftover
      FROM base
    )
    SELECT lang, n_docs, CAST(s AS BIGINT) AS isqrt_n,
           CAST(w0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS w_ppm
    FROM ranked ORDER BY lang
    """,
    doc="Temperature-scaled mixture weights for multi-source training "
        "data (the tau-sampling rule from multilingual T5/UniMax: "
        "w_i proportional to n_i^(1/tau), tau=2 → sqrt), computed in "
        "EXACT integer arithmetic: isqrt via float sqrt plus a ±1 "
        "integer correction (exact for all int64 counts, both engines), "
        "weights as floor-ppm with Hamilton largest-remainder top-up so "
        "they sum to exactly 1,000,000 (remainder ties pinned by lang). "
        "This is the allocation a 100 TB curation job feeds its "
        "per-source samplers — upweighting tail languages against the "
        "head without the starvation of proportional sampling. Scale: "
        "one count per source, then source-cardinality-bounded work.",
)
def q_temperature_mixture_weights(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").cast("long")
                                      .alias("n_docs"))
    s0 = F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    isq = counts.select(
        "lang", "n_docs",
        (s0
         + F.when((s0 + 1) * (s0 + 1) <= F.col("n_docs"), 1).otherwise(0)
         - F.when(s0 * s0 > F.col("n_docs"), 1).otherwise(0)).alias("s"),
    ).localCheckpoint(eager=True)  # bounded: one row per source
    tot = isq.agg(F.sum("s").alias("ts"))
    base = isq.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "s",
        F.expr("(1000000 * s) div ts").alias("w0"),
        F.expr("(1000000 * s) % ts").alias("rem"),
    )
    from .functions.windows import bounded_window

    leftover = base.agg((F.lit(1000000) - F.sum("w0")).alias("leftover"))
    w = bounded_window(F.desc("rem"), "lang")  # one row per source: bounded
    return (
        base.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            "lang", "n_docs", F.col("s").cast("long").alias("isqrt_n"),
            (F.col("w0")
             + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("long").alias("w_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocking → bounded pair match → CC → golden record
# ---------------------------------------------------------------------------

def er_resolve(
    keyed: DataFrame, top_n: int = 25, max_block: int | None = 10_000,
) -> DataFrame:
    """The ER core shared by the registered query and the stress harness
    (SCALE.md round-10): given a checkpointed ``keyed`` relation
    (k BIGINT, cents BIGINT, d STRING dirty entity string, bk STRING
    blocking key), emit the top clusters with their golden records.
    Block-keyed self-join (never corpus-quadratic), levenshtein <= 2
    match, connected components, one grouped pass for census + golden
    election (max cents, tie -> min k via struct max).

    ``max_block`` is the hot-block guard (r10 verdict ask #3): a
    degenerate blocking key — many identical strings swelling one block —
    makes the per-block self-join quadratic (measured knee: 3x rows ->
    9x pairs, SCALE.md round-10 ER stress). Before joining, one
    map-side-combinable count on ``bk`` finds any block past the cap and
    the operator FAILS LOUDLY naming the hottest block (count desc, bk
    asc — deterministic even when blocks tie) instead of going quadratic
    silently; ``hot_bucket_cap_audit`` is the planning query for picking
    the cap. The guard costs one extra eager aggregate pass over the
    keyed relation on EVERY call, healthy or not — that is its scale
    contract (a single map-side-combinable count, cheap next to the
    self-join it protects, but a pass nonetheless). ``None`` disables
    the guard (stress harness only)."""
    from .operators.dedup import connected_components

    if max_block is not None:
        hot = (
            keyed.groupBy("bk").agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block)
            .orderBy(F.desc("__n"), "bk").limit(1).collect()  # bounded: 1
        )
        if hot:
            raise ValueError(
                f"er_resolve: blocking key {hot[0]['bk']!r} has "
                f"{hot[0]['__n']} members (> max_block={max_block}) — the "
                "per-block self-join would be quadratic on it. Re-block "
                "with a finer key, pre-dedup exact duplicates, or raise "
                "max_block deliberately (see hot_bucket_cap_audit)."
            )

    a = keyed.select(F.col("k").alias("ka"), F.col("d").alias("da"),
                     F.col("bk").alias("bka"))
    b = keyed.select(F.col("k").alias("kb"), F.col("d").alias("db"),
                     F.col("bk").alias("bkb"))
    pairs = a.join(
        b,
        (F.col("bka") == F.col("bkb")) & (F.col("kb") > F.col("ka"))
        & (F.levenshtein("da", "db") <= 2),
    ).select("ka", "kb")
    cc = connected_components(pairs, src="ka", dst="kb")
    j = cc.join(keyed, cc["node"] == keyed["k"]).select(
        "comp", "k", "cents", "d"
    )
    agg = j.groupBy("comp").agg(
        F.count("*").cast("long").alias("n_members"),
        F.countDistinct("d").cast("long").alias("n_variants"),
        F.max(F.struct(F.col("cents"), (-F.col("k")).alias("neg")))
        .alias("best"),
    )
    return agg.select(
        F.col("comp").cast("long").alias("cluster_id"),
        "n_members", "n_variants",
        (-F.col("best.neg")).cast("long").alias("golden_partkey"),
        F.col("best.cents").cast("long").alias("golden_cents"),
    ).orderBy(F.desc("n_members"), "cluster_id").limit(top_n)


# Engine-portable ER SQL fragments: concat()/substr()/split_part() parse
# identically in Spark SQL and DuckDB, so the SAME text builds the dirty
# corpus and blocking keys in the registered query, its DuckDB oracle, and
# the stress harness (scripts/stress_entity_resolution.py) — only the
# md5->int60 hash expression differs per engine and arrives via {h}.
_ER_DIRTY_SQL = """
  SELECT p_partkey AS k,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         CASE WHEN p_partkey % 7 = 0 THEN
           concat(substr(s, 1, 1 + ({h} % length(s)) - 1),
                  substr(s, 1 + ({h} % length(s)) + 1))
         ELSE s END AS d
  FROM (SELECT *, concat(p_name, ' ', p_brand) AS s FROM part)
"""

_ER_BLOCK_SQL = "concat(split_part(d, ' ', 1), '|', substr(d, length(d) - 1, 2))"

_ER_SPARK_H = ("CAST(conv(substr(md5(concat(s, '#', CAST(p_partkey AS STRING"
               "))), 1, 15), 16, 10) AS BIGINT)")

_ER_DUCK_H = ("CAST('0x' || substr(md5(concat(s, '#', CAST(p_partkey AS "
              "VARCHAR))), 1, 15) AS BIGINT)")


def er_keyed(spark: SparkSession) -> DataFrame:
    """Spark-side keyed ER relation (k, cents, d, bk) over whatever
    relation is currently registered as the ``part`` view — shared by the
    registered query and the stress harness so the certified pipeline and
    the measured one cannot drift."""
    return spark.sql(f"""
        SELECT *, {_ER_BLOCK_SQL} AS bk
        FROM ({_ER_DIRTY_SQL.format(h=_ER_SPARK_H)})
    """)


@register(
    "entity_resolution_golden",
    oracle="""
    WITH dirty AS ({dirty}
    ), keyed AS (
      SELECT *, {block} AS bk
      FROM dirty
    ), pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM keyed a JOIN keyed b
        ON a.bk = b.bk AND b.k > a.k AND levenshtein(a.d, b.d) <= 2
    ), und AS (
      SELECT ka AS a, kb AS b FROM pairs UNION SELECT kb, ka FROM pairs
    ), reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM r JOIN und u ON r.b = u.a
      ) SELECT * FROM r
    ), mem AS (
      SELECT a AS node, MIN(b) AS comp FROM reach GROUP BY a
    ), j AS (
      SELECT m.comp, k.k, k.cents, k.d
      FROM mem m JOIN keyed k ON k.k = m.node
    ), agg AS (
      SELECT comp AS cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS n_variants
      FROM j GROUP BY comp
    ), g AS (
      SELECT comp, k AS golden_partkey, cents AS golden_cents,
             ROW_NUMBER() OVER (PARTITION BY comp
                                ORDER BY cents DESC, k) AS rn
      FROM j
    )
    SELECT a.cluster_id, a.n_members, a.n_variants,
           g.golden_partkey, CAST(g.golden_cents AS BIGINT) AS golden_cents
    FROM agg a JOIN g ON g.comp = a.cluster_id AND g.rn = 1
    ORDER BY a.n_members DESC, a.cluster_id LIMIT 25
    """.format(dirty=_ER_DIRTY_SQL.format(h=_ER_DUCK_H),
               block=_ER_BLOCK_SQL),
    doc="Entity resolution end to end — the master-data pipeline the "
        "dedup family's doc-level ops don't cover: part name+brand "
        "strings (a deterministic md5-positioned single-char deletion "
        "dirties every 7th record, replayed identically by the oracle) "
        "are BLOCKED on (first token, last-2-chars) so candidate "
        "generation is per-block quadratic instead of corpus-quadratic "
        "(~200 bounded blocks — the classic ER scale move), matched with "
        "levenshtein <= 2, clustered with the engine's "
        "connected-components operator, and each cluster elects a GOLDEN "
        "record (max retail cents, tie -> min partkey). Output: top-25 "
        "clusters (members, distinct dirty variants, golden id+cents). "
        "Scale: blocking bounds pairs, CC is O(diameter) edge-keyed "
        "shuffles with escalation; no all-pairs anywhere. Oracle replays "
        "blocking+match and walks the pair graph with a recursive CTE.",
)
def q_entity_resolution_golden(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import register_tables

    register_tables(spark, sf_dir)
    # consumed by both self-join sides + the member join
    keyed = er_keyed(spark).localCheckpoint(eager=True)
    return er_resolve(keyed)


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (8-round Bellman-Ford relaxation)
# ---------------------------------------------------------------------------

@register(
    "sssp_weighted_hub",
    oracle="""
    WITH RECURSIVE
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                        AND c.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    und AS (
      SELECT pa AS node, pb AS nb, 1 + 1000 // cnt AS w FROM e
      UNION ALL SELECT pb, pa, 1 + 1000 // cnt FROM e
    ),
    hub AS (
      SELECT node FROM und GROUP BY node
      ORDER BY COUNT(*) DESC, node LIMIT 1
    ),
    walk(node, dist, r) AS (
      SELECT node, CAST(0 AS BIGINT), 0 FROM hub
      UNION ALL
      SELECT u.nb, MIN(w.dist + u.w), w.r + 1
      FROM walk w JOIN und u ON u.node = w.node
      WHERE w.r < 8 GROUP BY u.nb, w.r + 1
    )
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node ORDER BY dist, node LIMIT 20
    """,
    doc="Weighted single-source shortest paths — the weighted member the "
        "graph family was missing (bfs_hops_from_hub is hop-count only): "
        "edge weight 1 + 1000 div common_orders makes strongly "
        "co-purchased parts CLOSER, and an 8-round Bellman-Ford "
        "relaxation from the co-purchase hub computes exact min distance "
        "over all paths of <= 8 edges (every weight is a positive "
        "integer, so pruned relaxation — only re-expand nodes whose best "
        "distance improved — yields the identical closed form the "
        "oracle's per-round recursive CTE computes unpruned; the classic "
        "BF invariant). Output: the 20 nearest nodes (dist, then id). "
        "Scale: O(rounds) frontier-to-edge-list equi-join shuffles, "
        "frontier shrinks as distances settle, localCheckpoint per round "
        "truncates lineage — the pagerank/BFS loop shape, never "
        "all-pairs.",
)
def q_sssp_weighted_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_counts, sssp_weighted, undirected

    e = co_purchase_counts(_t(spark, sf_dir, "lineitem")).select(
        "p1", "p2", F.expr("1 + 1000 div n_orders").alias("w")
    )
    und = undirected(e, "node", "nb") \
        .localCheckpoint(eager=True)  # joined every relaxation round

    hub = (
        und.groupBy("node").agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), "node").limit(1).select("node")
    )
    best = sssp_weighted(und, hub, rounds=8)
    return best.select("node", F.col("dist").cast("long").alias("dist")) \
        .orderBy("dist", "node").limit(20)


# ---------------------------------------------------------------------------
# SQL:2016 LISTAGG ... WITHIN GROUP (new aggregate surface in Spark 4)
# ---------------------------------------------------------------------------

@register(
    "listagg_region_nations",
    oracle="""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
    doc="SQL:2016 LISTAGG ... WITHIN GROUP (ORDER BY ...) — the ordered "
        "string-aggregation surface added to Spark in 4.0 (previously "
        "only expressible as collect_list -> array_sort -> array_join, "
        "the spelling ★collect_sorted_years pins): nations per region as "
        "an ordered CSV plus the group count. Deterministic because the "
        "WITHIN GROUP order is total (unique names). The oracle uses "
        "DuckDB's string_agg with ORDER BY, the same ANSI semantics. "
        "Scale: ordered-list aggregation concentrates each group on one "
        "reducer — correct for dimension-sized groups like these; for "
        "fact-sized groups the engine's guidance stays the sorted-array "
        "form with explicit length caps.",
)
def q_listagg_region_nations(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        SELECT r.r_name,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               listagg(n.n_name, ',')
                 WITHIN GROUP (ORDER BY n.n_name) AS nations_csv
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
    """)


# ---------------------------------------------------------------------------
# mapInArrow — the Arrow-native batch path (no pandas materialization)
# ---------------------------------------------------------------------------

@register(
    "arrow_argmax_profile",
    oracle="""
    SELECT CAST(list_indexof(embedding, list_max(embedding)) AS BIGINT)
             AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(CAST(list_max(embedding) AS DOUBLE)
                                * 1048576) AS BIGINT)) AS BIGINT)
             AS sum_max_q20
    FROM embeddings GROUP BY 1 ORDER BY dim
    """,
    doc="mapInArrow surface pin — the one Python batch API the engine "
        "had not yet exercised (mapInPandas/applyInPandas/cogroup/UDTF/"
        "pandas-UDAF all have rows): per-embedding argmax dimension and "
        "fixed-point max value computed directly on pyarrow RecordBatches "
        "(ListArray offsets -> one numpy view, zero pandas "
        "materialization — the cheapest Python escape hatch when even "
        "Arrow->pandas conversion is too much), then a JVM-side groupBy "
        "profiles which dimension dominates (count + sum of "
        "floor(max*2^20), exact because a power-of-two scale is lossless "
        "on doubles). Ties break to the FIRST maximal index in both "
        "engines (numpy argmax / DuckDB list_indexof). Scale: the Arrow "
        "pass is embarrassingly parallel and shuffle-free; the profile "
        "aggregate is 64-row bounded.",
)
def q_arrow_argmax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def per_batch(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            col = batch.column(batch.schema.get_field_index("embedding"))
            n = len(col)
            if n == 0:
                continue
            # flatten() (not .values): applies any list/slice offsets, so
            # a sliced batch cannot silently misalign the reshape windows
            flat = col.flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(n, -1)  # uniform-length lists (64-dim)
            am = (mat.argmax(axis=1) + 1).astype(np.int64)
            mx = np.floor(mat.max(axis=1).astype(np.float64)
                          * 1048576.0).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(am), pa.array(mx)],
                names=["dim", "max_q20"],
            )

    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    per_vec = emb.mapInArrow(per_batch, "dim long, max_q20 long")
    return (
        per_vec.groupBy("dim")
        .agg(F.count("*").cast("long").alias("n_vecs"),
             F.sum("max_q20").cast("long").alias("sum_max_q20"))
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (|>, Spark 4.0) — linear dataflow spelling of a rollup
# ---------------------------------------------------------------------------

@register(
    "pipe_syntax_pricing",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS gross_cents,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS BIGINT) AS disc_weighted,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_quantity < 40
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="SQL pipe syntax (the |> operator chain added in Spark 4.0, "
        "SPARK-49555 — a linear dataflow spelling where each stage "
        "consumes the previous relation, eliminating subquery nesting): "
        "a pricing rollup written as FROM |> WHERE |> EXTEND |> "
        "AGGREGATE ... GROUP BY |> ORDER BY. The planner must produce "
        "the identical logical plan as the nested spelling (the oracle "
        "is the standard-SQL form), so this pins parser+analyzer "
        "equivalence, not new semantics: per-row exact cents are "
        "EXTENDed before the SUM (order-free money math, the engine "
        "house rule), discount-weighted cents exercise an integer "
        "product aggregate. Scale: identical plan to any filtered "
        "rollup — scan with pushed predicate, partial agg, one "
        "exchange.",
)
def q_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        FROM lineitem
        |> WHERE l_quantity < 40
        |> EXTEND CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                  CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
                     CAST(SUM(price_c) AS BIGINT) AS gross_cents,
                     CAST(SUM(price_c * disc_c) AS BIGINT) AS disc_weighted,
                     CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        |> SELECT l_returnflag, n_items, gross_cents, disc_weighted,
                  sum_qty
    """)


# ---------------------------------------------------------------------------
# Parameterized SQL (named parameter markers, Spark 4 spark.sql(args=))
# ---------------------------------------------------------------------------

@register(
    "parameterized_sql_binding",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderstatus = 'F'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Named parameter markers (spark.sql(query, args={...}), the "
        "parameterized-SQL API that reached GA in Spark 4): the status "
        "and cutoff date arrive as BOUND PARAMETERS (:status, :cutoff), "
        "not string-interpolated literals — the injection-safe template "
        "path every SQL-facing service should use, and a distinct "
        "analyzer codepath (parameter substitution happens post-parse, "
        "so the plan must still constant-fold and push the predicates "
        "exactly as the inlined oracle text does). Output: order count "
        "+ exact cents per priority for finalized orders before the "
        "cutoff. Scale: parameters do not block predicate pushdown — "
        "that equivalence is the point of the pin.",
)
def q_parameterized_sql_binding(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    import datetime

    from .sql import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        WHERE o_orderstatus = :status
          AND CAST(o_orderdate AS DATE) < :cutoff
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"status": "F", "cutoff": datetime.date(1997, 1, 1)},
    )


# ---------------------------------------------------------------------------
# SQL scripting (BEGIN..END procedural blocks, Spark 4.0)
# ---------------------------------------------------------------------------

@register(
    "sql_scripting_compound",
    oracle="""
    SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                    * (1 << (4 - quarter(CAST(o_orderdate AS DATE)))))
                AS BIGINT) AS folded_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders_1995
    FROM orders
    WHERE year(CAST(o_orderdate AS DATE)) = 1995
    """,
    doc="SQL scripting (BEGIN..END compound statements with DECLARE / "
        "WHILE / SET, added in Spark 4.0 behind "
        "spark.sql.scripting.enabled): a procedural loop walks the four "
        "quarters of 1995, each iteration DOUBLING the accumulator "
        "before adding that quarter's exact order cents — a "
        "deliberately order-sensitive fold (total = 2*total + q_k), so "
        "the pin proves the script executed the iterations in sequence, "
        "not as a foldable constant. The oracle evaluates the closed "
        "form sum(cents_k * 2^(4-k)) in one scan. Scale: each iteration "
        "is one pushed-predicate aggregate; scripting is driver-side "
        "control flow over full Spark jobs — the same shape as the "
        "engine's python-side iterative loops, now expressible in pure "
        "SQL.",
)
def q_sql_scripting_compound(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import scripting, sql

    with scripting(spark):
        return sql(spark, sf_dir, """
            BEGIN
              DECLARE folded BIGINT DEFAULT 0;
              DECLARE q INT DEFAULT 1;
              WHILE q <= 4 DO
                SET folded = 2 * folded + (
                  SELECT COALESCE(SUM(CAST(round(o_totalprice * 100)
                                           AS BIGINT)), 0)
                  FROM orders
                  WHERE year(CAST(o_orderdate AS DATE)) = 1995
                    AND quarter(CAST(o_orderdate AS DATE)) = q
                );
                SET q = q + 1;
              END WHILE;
              SELECT folded AS folded_cents,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                      WHERE year(CAST(o_orderdate AS DATE)) = 1995)
                       AS n_orders_1995;
            END
        """)


# ---------------------------------------------------------------------------
# Deletion-cascade impact plan (GDPR/right-to-erasure propagation audit)
# ---------------------------------------------------------------------------

@register(
    "deletion_cascade_impact",
    oracle="""
    WITH cohort AS (
      SELECT c_custkey, c_nationkey FROM customer
      WHERE CAST('0x' || substr(md5('del|' || CAST(c_custkey AS VARCHAR)),
                 1, 15) AS BIGINT) % 50 = 0
    ), o AS (
      SELECT c.c_nationkey, o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM cohort c JOIN orders o ON o.o_custkey = c.c_custkey
    ), l AS (
      SELECT o.c_nationkey, COUNT(*) AS n_li
      FROM o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
      GROUP BY o.c_nationkey
    ), ev AS (
      SELECT c.c_nationkey, COUNT(*) AS n_ev
      FROM cohort c JOIN events e ON e.user_id = c.c_custkey
      GROUP BY c.c_nationkey
    ), oagg AS (
      SELECT c_nationkey, COUNT(*) AS n_o, SUM(cents) AS cents
      FROM o GROUP BY c_nationkey
    ), cagg AS (
      SELECT c_nationkey, COUNT(*) AS n_customers
      FROM cohort GROUP BY c_nationkey
    )
    SELECT n.n_name,
           CAST(cg.n_customers AS BIGINT) AS n_customers,
           CAST(COALESCE(oa.n_o, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(l.n_li, 0) AS BIGINT) AS n_lineitems,
           CAST(COALESCE(ev.n_ev, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(oa.cents, 0) AS BIGINT) AS frozen_cents
    FROM cagg cg
    JOIN nation n ON n.n_nationkey = cg.c_nationkey
    LEFT JOIN oagg oa ON oa.c_nationkey = cg.c_nationkey
    LEFT JOIN l ON l.c_nationkey = cg.c_nationkey
    LEFT JOIN ev ON ev.c_nationkey = cg.c_nationkey
    ORDER BY n.n_name
    """,
    doc="Right-to-erasure cascade impact plan — the compliance query a "
        "warehouse runs BEFORE executing a deletion batch: a "
        "deterministic 2% customer cohort (portable md5 hash, the "
        "engine's replayable sampling family) is traced through the "
        "foreign-key graph (orders -> lineitems, plus the events stream "
        "keyed by user id) and the blast radius is reported per nation: "
        "customers, orders, line items, events, and the exact cents of "
        "order value frozen by the deletion. Scale: each hop is one "
        "key-equi-join off the cohort — but the cohort is a constant "
        "FRACTION (2%) of customers, so it grows with the corpus: no "
        "forced broadcast hints (r10 advice); AQE broadcasts while the "
        "cohort fits under the threshold and falls back to shuffle "
        "joins beyond it, instead of blowing the broadcast limit at "
        "100 TB. No scan ever touches more than the FK chain. "
        "Distinct from "
        "★data_quality_report (violation detection) — this PLANS a "
        "mutation's footprint.",
)
def q_deletion_cascade_impact(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .functions.text import portable_hash60

    cust = _t(spark, sf_dir, "customer")
    cohort = cust.filter(
        portable_hash60(
            F.concat(F.lit("del|"), F.col("c_custkey").cast("string"))
        ) % 50 == 0
    ).select("c_custkey", "c_nationkey").localCheckpoint(eager=True)
    orders = _t(spark, sf_dir, "orders")
    # No broadcast hints on the cohort side: it is a constant 2% fraction
    # of customers, so it scales with the corpus — AQE picks broadcast
    # only while it actually fits (r10 advice).
    o = (
        cohort
        .join(orders, orders["o_custkey"] == cohort["c_custkey"])
        .select("c_nationkey", "o_orderkey",
                F.round(F.col("o_totalprice") * 100).cast("long")
                .alias("cents"))
        .localCheckpoint(eager=True)  # consumed by the agg AND the lineitem hop
    )
    li = _t(spark, sf_dir, "lineitem")
    l_cnt = (
        o.select("c_nationkey", "o_orderkey")
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("c_nationkey").agg(F.count("*").alias("n_li"))
    )
    ev = _t(spark, sf_dir, "events")
    e_cnt = (
        cohort
        .join(ev, ev["user_id"] == cohort["c_custkey"])
        .groupBy("c_nationkey").agg(F.count("*").alias("n_ev"))
    )
    per_nat = (
        cohort.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .join(o.groupBy("c_nationkey")
              .agg(F.count("*").alias("n_orders"),
                   F.sum("cents").alias("frozen_cents")),
              "c_nationkey", "left")
        .join(l_cnt, "c_nationkey", "left")
        .join(e_cnt, "c_nationkey", "left")
    )
    nation = _t(spark, sf_dir, "nation")
    return (
        per_nat.join(F.broadcast(nation),
                     per_nat["c_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.coalesce("n_orders", F.lit(0)).cast("long")
            .alias("n_orders"),
            F.coalesce("n_li", F.lit(0)).cast("long").alias("n_lineitems"),
            F.coalesce("n_ev", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("frozen_cents", F.lit(0)).cast("long")
            .alias("frozen_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Bitmap aggregate family (exact distinct counting via RLE bitmaps)
# ---------------------------------------------------------------------------

@register(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Spark bitmap aggregate family (bitmap_bucket_number / "
        "bitmap_bit_position / bitmap_construct_agg / bitmap_count — the "
        "exact-distinct acceleration pattern where dense integer keys "
        "are folded into per-bucket roaring-style bitmaps instead of a "
        "shuffled distinct): per event type, exact distinct users "
        "computed as sum(bitmap_count(per-bucket bitmap)). The oracle is "
        "plain COUNT(DISTINCT) — the equality IS the pin. Scale: the "
        "bitmap form replaces the two-phase distinct's full key shuffle "
        "with a (type, bucket)-keyed aggregate whose state is a fixed "
        "4 KB bitmap per bucket — the same aggregate-state win "
        "materialized-view engines use for COUNT(DISTINCT) rollups, and "
        "the bitmaps are MERGEABLE, so incremental refresh unions "
        "bitmaps instead of re-scanning history.",
)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        SELECT event_type,
               CAST(SUM(n_ev) AS BIGINT) AS n_events,
               CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_users
        FROM (
          SELECT event_type,
                 bitmap_bucket_number(user_id) AS bucket,
                 COUNT(*) AS n_ev,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM events GROUP BY event_type, bucket
        )
        GROUP BY event_type ORDER BY event_type
    """)


# ---------------------------------------------------------------------------
# Luhn checksum audit (data-quality validation of identifier columns)
# ---------------------------------------------------------------------------

@register(
    "luhn_checksum_audit",
    oracle="""
    WITH acct AS (
      SELECT c_nationkey,
             lpad(CAST(c_custkey * 37 + (c_custkey % 10) AS VARCHAR),
                  16, '0') AS a
      FROM customer
    ), scored AS (
      SELECT c_nationkey,
             list_sum(list_transform(range(1, 17), i ->
               CASE WHEN (16 - i) % 2 = 0
                    THEN CAST(substr(a, CAST(i AS INT), 1) AS INT)
                    ELSE CASE WHEN 2 * CAST(substr(a, CAST(i AS INT), 1)
                                            AS INT) > 9
                              THEN 2 * CAST(substr(a, CAST(i AS INT), 1)
                                            AS INT) - 9
                              ELSE 2 * CAST(substr(a, CAST(i AS INT), 1)
                                            AS INT) END
               END)) % 10 AS rem
      FROM acct
    )
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_accounts,
           CAST(COUNT(*) FILTER (WHERE rem = 0) AS BIGINT) AS n_valid,
           CAST(SUM(rem) AS BIGINT) AS sum_rem
    FROM scored GROUP BY c_nationkey ORDER BY nationkey
    """,
    doc="Luhn checksum audit (ISO/IEC 7812 mod-10, the card/IMEI/member "
        "id integrity check; Spark ships luhn_check since 3.5): synthetic "
        "16-digit account numbers derived deterministically from custkey "
        "(lossless for c_custkey up to ~2.7e14 — past that lpad would "
        "silently truncate low-order digits, r10 advice; 12 digits "
        "capped out at ~2.7e10, inside a plausible 100 TB keyspace) "
        "are validated per nation — valid count via the BUILT-IN "
        "luhn_check, plus the full mod-10 remainder distribution (sum of "
        "remainders) computed as an expression so the oracle can replay "
        "the exact digit-doubling sum with a list_transform lambda. "
        "Pins that the builtin agrees with the from-scratch arithmetic "
        "on every row (n_valid == rows where the replayed remainder is "
        "0). Scale: pure per-row codegen expression work, one exchange "
        "on the group key.",
)
def q_luhn_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH acct AS (
          SELECT c_nationkey,
                 lpad(CAST(c_custkey * 37 + (c_custkey % 10) AS STRING),
                      16, '0') AS a
          FROM customer
        ), scored AS (
          SELECT c_nationkey,
                 luhn_check(a) AS ok,
                 aggregate(transform(sequence(1, 16), i ->
                   CASE WHEN (16 - i) % 2 = 0
                        THEN CAST(substr(a, i, 1) AS INT)
                        ELSE CASE WHEN 2 * CAST(substr(a, i, 1) AS INT) > 9
                                  THEN 2 * CAST(substr(a, i, 1) AS INT) - 9
                                  ELSE 2 * CAST(substr(a, i, 1) AS INT)
                             END
                   END), 0, (s, x) -> s + x) % 10 AS rem
          FROM acct
        )
        SELECT c_nationkey AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_accounts,
               CAST(COUNT(CASE WHEN ok THEN 1 END) AS BIGINT) AS n_valid,
               CAST(SUM(rem) AS BIGINT) AS sum_rem
        FROM scored
        GROUP BY c_nationkey ORDER BY nationkey
    """)
