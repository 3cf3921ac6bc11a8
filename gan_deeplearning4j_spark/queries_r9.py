"""Round-9 queries: a 19-entry wave plus the 17 additions under the
"Round-9 LIVE additions" banner below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.dates import epoch_day
from .functions.money import cents_nonneg, cents_signed

from .registry import _t, register


# ---------------------------------------------------------------------------
# Business-day lag (weekday-count calendar arithmetic, closed form)
# ---------------------------------------------------------------------------

# weekdays in [0, d) from the 1970-01-01 epoch (a Thursday): 5 per full
# week + a 7-case prefix for the remainder; the same closed form in both
# engines, so the difference f(ship) - f(order) is exact
_BDAY_PREFIX = ("CASE ({d}) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 "
                "WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3 WHEN 6 THEN 4 "
                "END")


def _bday_expr(d: str) -> str:
    return f"5 * (({d}) // 7) + ({_BDAY_PREFIX.format(d=d)})"


@register(
    "business_day_ship_lag",
    oracle=f"""
    WITH x AS (
      SELECT l.l_returnflag,
             date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS od,
             date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
               AS sd
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), lag AS (
      SELECT l_returnflag,
             CAST(({_bday_expr("sd")}) - ({_bday_expr("od")}) AS BIGINT)
               AS bdays
      FROM x
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(bdays) AS BIGINT) AS sum_bdays,
           CAST(SUM(bdays) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
             AS mean_bdays_e3,
           CAST(MIN(bdays) AS BIGINT) AS min_bdays,
           CAST(MAX(bdays) AS BIGINT) AS max_bdays
    FROM lag GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Business-day (Mon-Fri) shipping lag per return flag: calendar-day "
        "differences overstate SLA lag across weekends, so the lag is "
        "computed as f(ship)-f(order) where f(d) = weekdays in [0,d) from "
        "the epoch — a closed form (5 per full week + a 7-case remainder "
        "prefix anchored on 1970-01-01 being a Thursday) identical in "
        "both engines, sidestepping the Spark-vs-DuckDB dayofweek "
        "numbering trap. Scale: one orderkey equi-join + one "
        "map-side-combined groupBy; the weekday algebra is scan-side "
        "projection",
)
def q_business_day_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag",
        epoch_day("l_shipdate").alias("sd"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        epoch_day("o_orderdate").alias("od"),
    )
    sp_expr = _bday_expr("sd").replace("//", "div") + \
        " - (" + _bday_expr("od").replace("//", "div") + ")"
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_returnflag", F.expr(sp_expr).cast("long").alias("bdays")
    )
    return (
        lag.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("bdays").cast("long").alias("sum_bdays"),
            F.expr("sum(bdays) * 1000 div count(*)").cast("long")
            .alias("mean_bdays_e3"),
            F.min("bdays").cast("long").alias("min_bdays"),
            F.max("bdays").cast("long").alias("max_bdays"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# McNemar test on paired first-half / second-half user outcomes
# ---------------------------------------------------------------------------

@register(
    "mcnemar_paired_halves",
    oracle="""
    WITH span AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ), u AS (
      SELECT e.user_id,
             MAX(CASE WHEN event_type = 'purchase'
                      AND epoch_us(ts) * 2 < s.lo + s.hi
                      THEN 1 ELSE 0 END) AS first_half,
             MAX(CASE WHEN event_type = 'purchase'
                      AND epoch_us(ts) * 2 >= s.lo + s.hi
                      THEN 1 ELSE 0 END) AS second_half
      FROM events e, span s
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN first_half = 1 AND second_half = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS b_only_first,
           CAST(SUM(CASE WHEN first_half = 0 AND second_half = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS c_only_second,
           CAST((SUM(CASE WHEN first_half = 1 AND second_half = 0
                          THEN 1 ELSE 0 END)
               - SUM(CASE WHEN first_half = 0 AND second_half = 1
                          THEN 1 ELSE 0 END))
              * (SUM(CASE WHEN first_half = 1 AND second_half = 0
                          THEN 1 ELSE 0 END)
               - SUM(CASE WHEN first_half = 0 AND second_half = 1
                          THEN 1 ELSE 0 END)) * 1000000
              // NULLIF(SUM(CASE WHEN first_half + second_half = 1
                                 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS mcnemar_x2_ppm
    FROM u
    """,
    doc="McNemar's test for paired binary outcomes (McNemar 1947): did "
        "each user purchase in the first vs second half of the "
        "observation window (paired within-subject design — the "
        "complement of the unpaired Welch/Mann-Whitney family and of "
        "wilcoxon_signed_rank which needs magnitudes)? Only the "
        "discordant cells matter: X^2 = (b-c)^2/(b+c), exact int64 ppm. "
        "The midpoint split is (lo+hi)/2 computed as ts*2 < lo+hi so no "
        "division ever happens. Scale: one user-keyed aggregate with the "
        "1-row span broadcast; the statistic is a 1-row projection",
)
def q_mcnemar_paired_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_nanos div 1000").alias("ts_us")
    )
    span = ev.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    u = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") * 2 < F.col("lo") + F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("first_half"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") * 2 >= F.col("lo") + F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("second_half"),
        )
    )
    return u.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(
            F.when((F.col("first_half") == 1) & (F.col("second_half") == 0),
                   1).otherwise(0)
        ).cast("long").alias("b_only_first"),
        F.sum(
            F.when((F.col("first_half") == 0) & (F.col("second_half") == 1),
                   1).otherwise(0)
        ).cast("long").alias("c_only_second"),
    ).select(
        "n_users", "b_only_first", "c_only_second",
        F.expr(
            "(b_only_first - c_only_second) * (b_only_first - "
            "c_only_second) * 1000000 div nullif(b_only_first + "
            "c_only_second, 0)"
        ).cast("long").alias("mcnemar_x2_ppm"),
    )


# ---------------------------------------------------------------------------
# Stratified ATE adjustment (exact post-stratification)
# ---------------------------------------------------------------------------

@register(
    "stratified_ate_adjustment",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS stratum,
             CAST(c_mktsegment = 'BUILDING' AS BIGINT) AS treat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS y_cents
      FROM customer
    ), cell AS (
      SELECT stratum, treat, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y_cents) AS BIGINT) AS s
      FROM c GROUP BY stratum, treat
    ), strata AS (
      SELECT t.stratum, t.n + ctl.n AS n_s,
             t.s // t.n - ctl.s // ctl.n AS diff_cents
      FROM (SELECT * FROM cell WHERE treat = 1) t
      JOIN (SELECT * FROM cell WHERE treat = 0) ctl
        ON ctl.stratum = t.stratum
    ), tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM strata)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(MAX(tot.n) AS BIGINT) AS n_customers,
           CAST(SUM(diff_cents * n_s) // MAX(tot.n) AS BIGINT)
             AS ate_cents
    FROM strata, tot
    """,
    doc="Post-stratified average treatment effect: treated = BUILDING-"
        "segment customers, outcome = account balance cents, strata = "
        "nation (the observed confounder); ATE = the stratum-size-"
        "weighted mean of within-stratum treated-minus-control mean "
        "differences — the exact-matching backbone of observational "
        "adjustment (the non-parametric core of propensity "
        "stratification), next to did_estimator (time confounding) and "
        "cuped_variance_reduction (covariate adjustment) in the "
        "experimentation family. Strata missing either arm drop out (the "
        "common-support rule), all arithmetic truncated int64 cents. "
        "Scale: one (stratum x arm) aggregate; the weighting runs on the "
        "25-row stratum table",
)
def q_stratified_ate_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("stratum"),
        (F.col("c_mktsegment") == "BUILDING").cast("long").alias("treat"),
        cents_signed(F.col("c_acctbal")).alias("y_cents"),
    )
    cell = c.groupBy("stratum", "treat").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y_cents").cast("long").alias("s"),
    )
    t = cell.filter(F.col("treat") == 1).select(
        "stratum", F.col("n").alias("nt"), F.col("s").alias("st")
    )
    ctl = cell.filter(F.col("treat") == 0).select(
        "stratum", F.col("n").alias("nc"), F.col("s").alias("sc")
    )
    strata = t.join(ctl, "stratum").select(
        "stratum",
        (F.col("nt") + F.col("nc")).alias("n_s"),
        F.expr("st div nt - sc div nc").alias("diff_cents"),
    )
    return strata.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("n_s").cast("long").alias("n_customers"),
        F.expr("sum(diff_cents * n_s) div sum(n_s)").cast("long")
        .alias("ate_cents"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization + motif census of the daily revenue series
# ---------------------------------------------------------------------------

@register(
    "sax_motif_census",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 10000
                  AS BIGINT) AS v
      FROM orders GROUP BY day
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(v * v) AS BIGINT) AS ss
      FROM d
    ), z AS (
      SELECT day,
             CASE
               WHEN (v * m.n - m.s) < -floor(0.6744897501960817
                      * sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)) / m.n)
                      * 1 THEN 'a'
               WHEN (v * m.n - m.s) < 0 THEN 'b'
               WHEN CAST(v * m.n - m.s AS DOUBLE)
                    < 0.6744897501960817
                      * sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)) / m.n
                 THEN 'c'
               ELSE 'd'
             END AS sym
      FROM d, m
    ), seq AS (
      SELECT sym
             || LEAD(sym, 1) OVER (ORDER BY day)
             || LEAD(sym, 2) OVER (ORDER BY day) AS motif
      FROM z
    )
    SELECT motif, CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM seq WHERE motif IS NOT NULL AND length(motif) = 3
    GROUP BY motif ORDER BY n_windows DESC, motif LIMIT 10
    """,
    doc="SAX symbolization (Lin et al. 2003) of the daily revenue series "
        "with a 4-letter alphabet and 3-day motif census: each day maps "
        "to a/b/c/d by comparing its mean deviation against the N(0,1) "
        "quartile breakpoints (+-0.6745 sigma, applied as ONE double "
        "comparison per side — int-to-double casts, *, /, sqrt are "
        "correctly-rounded IEEE so the comparison is bit-identical "
        "cross-engine; values are pre-scaled to 100-dollar units so "
        "n*SS - S^2 stays in int64), then consecutive 3-symbol motifs "
        "are counted — the symbolic-motif discovery step time-series "
        "miners run before suffix-tree indexing. Scale: one "
        "map-side-combined groupBy to the ~2.4k-day series; the "
        "symbolization and motif windows run on the day series only",
)
def q_sax_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(
        F.expr("sum(cast(round(o_totalprice * 100) as long)) div 10000")
        .cast("long").alias("v")
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    dev = F.col("v") * F.col("n") - F.col("s")
    q = (
        F.lit(0.6744897501960817)
        * F.sqrt((F.col("n") * F.col("ss")
                  - F.col("s") * F.col("s")).cast("double"))
        / F.col("n")
    )
    z = d.crossJoin(F.broadcast(m)).select(
        "day",
        F.when(dev < -F.floor(q), "a")
        .when(dev < 0, "b")
        .when(dev.cast("double") < q, "c")
        .otherwise("d").alias("sym"),
    )
    bw = bounded_window(F.col("day"))
    seq = z.select(
        F.concat(
            "sym", F.lead("sym", 1).over(bw), F.lead("sym", 2).over(bw)
        ).alias("motif")
    )
    return (
        seq.filter(F.col("motif").isNotNull() & (F.length("motif") == 3))
        .groupBy("motif")
        .agg(F.count("*").cast("long").alias("n_windows"))
        .orderBy(F.desc("n_windows"), "motif")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# KMV set-operation estimates (theta-sketch style union/intersection)
# ---------------------------------------------------------------------------

@register(
    "kmv_set_ops_estimate",
    oracle="""
    WITH a AS (
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    ), b AS (
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_linestatus = 'O'
    ),
    ha AS (SELECT ('0x' || substr(md5('p' || CAST(l_partkey AS VARCHAR)),
                   1, 13))::BIGINT AS h FROM a),
    hb AS (SELECT ('0x' || substr(md5('p' || CAST(l_partkey AS VARCHAR)),
                   1, 13))::BIGINT AS h FROM b),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
    sku AS (
      SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
      ORDER BY h LIMIT 64
    ),
    u AS (SELECT CAST(MAX(h) AS BIGINT) AS kth,
                 CAST(COUNT(*) AS BIGINT) AS k FROM sku),
    inter AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m
      FROM sku WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)
    ),
    ex AS (
      SELECT CAST((SELECT COUNT(*) FROM (SELECT l_partkey FROM a
                    UNION SELECT l_partkey FROM b)) AS BIGINT) AS ex_union,
             CAST((SELECT COUNT(*) FROM a
                    WHERE l_partkey IN (SELECT l_partkey FROM b))
                  AS BIGINT) AS ex_inter
    )
    SELECT u.k, inter.m AS sketch_overlap,
           (u.k - 1) * 4503599627370496 // u.kth AS est_union,
           inter.m * ((u.k - 1) * 4503599627370496 // u.kth) // u.k
             AS est_inter,
           ex.ex_union AS exact_union, ex.ex_inter AS exact_inter
    FROM u, inter, ex
    """,
    doc="KMV/theta-sketch set operations (Dasgupta et al., the DataSketches "
        "theta recipe): bottom-64 hash sketches of two part-key sets "
        "(returned items vs open-status items), union estimate from the "
        "k-th smallest of the MERGED sketch, intersection estimate = "
        "(overlap fraction within the union sketch) x union estimate — "
        "the composable alternative to hll_intersection_bracket's "
        "inclusion-exclusion bounds, and exactly replayable because the "
        "md5 hash is shared cross-engine. Scale: two TakeOrdered bottom-k "
        "heaps + a 128-row merge; sketches union by keep-smallest-k, so "
        "per-partition sketches combine exactly like production theta "
        "sketches",
)
def q_kmv_set_ops_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    hx = "cast(conv(substr(md5(concat('p', cast(l_partkey as string))), " \
         "1, 13), 16, 10) as long)"
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_partkey").distinct()
    b = li.filter(F.col("l_linestatus") == "O").select(
        "l_partkey").distinct()
    ska = a.select(F.expr(hx).alias("h")).orderBy("h").limit(64) \
        .localCheckpoint(eager=True)
    skb = b.select(F.expr(hx).alias("h")).orderBy("h").limit(64) \
        .localCheckpoint(eager=True)
    sku = ska.union(skb).distinct().orderBy("h").limit(64) \
        .localCheckpoint(eager=True)
    u = sku.agg(F.max("h").alias("kth"),
                F.count("*").cast("long").alias("k"))
    inter = (
        sku.join(ska, "h", "left_semi").join(skb, "h", "left_semi")
        .agg(F.count("*").cast("long").alias("m"))
    )
    ex = (
        a.unionByName(b).distinct()
        .agg(F.count("*").cast("long").alias("ex_union"))
        .crossJoin(
            a.join(b, "l_partkey", "left_semi")
            .agg(F.count("*").cast("long").alias("ex_inter"))
        )
    )
    return (
        u.crossJoin(F.broadcast(inter)).crossJoin(F.broadcast(ex))
        .select(
            "k", F.col("m").alias("sketch_overlap"),
            F.expr("(k - 1) * 4503599627370496 div kth")
            .alias("est_union"),
            F.expr("m * ((k - 1) * 4503599627370496 div kth) div k")
            .alias("est_inter"),
            F.col("ex_union").alias("exact_union"),
            F.col("ex_inter").alias("exact_inter"),
        )
    )


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand (two interleaved SES streams)
# ---------------------------------------------------------------------------

@register(
    "croston_intermittent_demand",
    oracle="""
    WITH dem AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM lineitem WHERE l_quantity = 50 GROUP BY day
    ), seq AS (
      SELECT day, x,
             day - COALESCE(LAG(day) OVER (ORDER BY day), day) AS gap,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM dem
    ), packed AS (
      SELECT list(x ORDER BY rn) AS xs, list(gap ORDER BY rn) AS gs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE rn >= 2
    ), init AS (
      SELECT (SELECT x * 1000 FROM seq WHERE rn = 1) AS z0,
             xs, gs, n
      FROM packed
    ), fold AS (
      -- list_reduce is SAFE here: the packed relation is a SINGLE row
      -- (global series), so the v1.0.0 varying-length multi-row batch
      -- mis-fold (round-9 probe, SCALE.md) cannot arise
      SELECT n, z0,
             list_reduce(
               list_prepend(z0 * 4294967296 + 1000,
                 list_transform(range(1, CAST(n AS INTEGER) + 1),
                                i -> xs[i] * 4294967296 + gs[i])),
               (acc, e) -> (acc // 4294967296
                            + ((e // 4294967296) * 1000
                               - acc // 4294967296) // 5) * 4294967296
                           + (acc % 4294967296
                              + ((e % 4294967296) * 1000
                                 - acc % 4294967296) // 5)
             ) AS st
      FROM init
    )
    SELECT n + 1 AS n_demand_days,
           CAST(st // 4294967296 AS BIGINT) AS z_hat_e3,
           CAST(st % 4294967296 AS BIGINT) AS p_hat_e3,
           CAST((st // 4294967296) * 1000 // (st % 4294967296) AS BIGINT)
             AS rate_e3
    FROM fold
    """,
    doc="Croston's method for intermittent demand (Croston 1972): the "
        "daily count of max-quantity lineitems is a sparse series, so "
        "plain SES smears zeros; Croston runs TWO interleaved exponential "
        "smoothers (alpha=1/5, exact e3 integers) over the non-zero "
        "demand SIZES and the inter-demand GAPS, forecasting rate = "
        "z_hat/p_hat. The fold packs both registers into one BIGINT "
        "(z*2^32 + p) on the oracle side — DuckDB's struct-accumulator "
        "list_reduce quirk (SCALE.md) — while Spark folds a real struct "
        "through F.aggregate. Scale: the fact scan is one groupBy; the "
        "fold runs over the collected non-zero-day array (bounded by the "
        "calendar, ~1.2k entries), engine-side, never on the driver",
)
def q_croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dem = li.filter(F.col("l_quantity") == 50).groupBy(
        epoch_day("l_shipdate").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    from .functions.windows import bounded_window

    bw = bounded_window(F.col("day"))
    seq = dem.select(
        "day", "x",
        (F.col("day") - F.coalesce(F.lag("day").over(bw), F.col("day")))
        .alias("gap"),
        F.row_number().over(bw).alias("rn"),
    )
    packed = seq.agg(
        F.expr("array_sort(collect_list(struct(rn, x, gap)))").alias("es"),
    ).select(
        F.expr("es[0].x * 1000").alias("z0"),
        F.expr("transform(slice(es, 2, size(es) - 1), "
               "e -> struct(e.x as x, e.gap as gap))").alias("rest"),
        (F.size("es")).cast("long").alias("n_demand_days"),
    )
    folded = packed.select(
        "n_demand_days",
        F.expr(
            "aggregate(rest, struct(cast(z0 as long) as z, "
            "cast(1000 as long) as p), (acc, e) -> struct("
            "acc.z + (e.x * 1000 - acc.z) div 5 as z, "
            "acc.p + (e.gap * 1000 - acc.p) div 5 as p))"
        ).alias("st"),
    )
    return folded.select(
        "n_demand_days",
        F.col("st.z").alias("z_hat_e3"),
        F.col("st.p").alias("p_hat_e3"),
        F.expr("st.z * 1000 div st.p").cast("long").alias("rate_e3"),
    )


# ---------------------------------------------------------------------------
# Exact 0/1 knapsack over top parts (DP as an engine-side fold)
# ---------------------------------------------------------------------------

@register(
    "knapsack_budget_parts",
    oracle="""
    WITH RECURSIVE items AS (
      SELECT p_size AS w, CAST(round(p_retailprice) AS BIGINT) AS v
      FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 30
    ), packed AS (
      SELECT list(struct_pack(w := w, v := v)
                  ORDER BY v DESC, w) AS its
      FROM items
    ),
    dp AS (
      SELECT 0 AS it,
             list_transform(range(0, 201), c -> CAST(0 AS BIGINT)) AS d,
             its
      FROM packed
      UNION ALL
      SELECT it + 1,
             list_transform(range(0, 201), c ->
               CASE WHEN c >= its[it + 1].w
                    THEN greatest(d[c + 1],
                                  d[c - its[it + 1].w + 1]
                                  + its[it + 1].v)
                    ELSE d[c + 1] END),
             its
      FROM dp WHERE it < 30
    )
    SELECT CAST(30 AS BIGINT) AS n_items,
           CAST(d[51] AS BIGINT) AS best_value_50,
           CAST(d[101] AS BIGINT) AS best_value_100,
           CAST(d[201] AS BIGINT) AS best_value_200
    FROM dp WHERE it = 30
    """,
    doc="Exact 0/1 knapsack (Bellman DP) over the 30 highest-priced "
        "parts: weight = p_size, value = whole-dollar retail price, "
        "capacities 50/100/200 — the budget-constrained selection "
        "optimum that greedy_pack_bins (bin packing, greedy) cannot "
        "answer. The DP table is a 201-cell int64 array folded through "
        "the item list ENGINE-SIDE: Spark carries it through one "
        "F.aggregate lambda, DuckDB through a 30-step single-row "
        "recursive CTE — no driver loop, no UDF. Scale: the DP is "
        "O(items x capacity) independent of table size; item selection "
        "is a TakeOrdered top-k over part",
)
def q_knapsack_budget_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    items = (
        part.orderBy(F.desc("p_retailprice"), "p_partkey").limit(30)
        .select(
            F.col("p_size").cast("long").alias("w"),
            F.round("p_retailprice", 0).cast("long").alias("v"),
        )
    )
    packed = items.agg(
        F.expr("array_sort(collect_list(struct(w, v)), (a, b) -> "
               "case when a.v > b.v then -1 when a.v < b.v then 1 "
               "when a.w < b.w then -1 when a.w > b.w then 1 "
               "else 0 end)").alias("its")
    )
    dp = packed.select(
        F.expr(
            "aggregate(its, "
            "transform(sequence(0, 200), c -> cast(0 as long)), "
            "(d, b) -> transform(sequence(0, 200), c -> "
            "if(c >= b.w, greatest(d[c], d[c - int(b.w)] + b.v), d[c])))"
        ).alias("d")
    )
    return dp.select(
        F.lit(30).cast("long").alias("n_items"),
        F.expr("d[50]").cast("long").alias("best_value_50"),
        F.expr("d[100]").cast("long").alias("best_value_100"),
        F.expr("d[200]").cast("long").alias("best_value_200"),
    )


# ---------------------------------------------------------------------------
# WAV roundtrip zero-crossing rate (order-sensitive codec certification)
# ---------------------------------------------------------------------------

@register(
    "wav_zcr_frames",
    oracle="""
    WITH c AS (
      SELECT unnest(range(0, 32)) AS clip
    ), ix AS (
      SELECT clip, unnest(range(0, 800)) AS i FROM c
    ), s AS (
      SELECT clip, i, i // 160 AS frame_no,
             CAST('0x' || substr(md5('wav|' || CAST(clip AS VARCHAR)
                                     || '|' || CAST(i AS VARCHAR)),
                                 1, 15) AS BIGINT) % 65536 - 32768 AS v
      FROM ix
    ), lagged AS (
      SELECT clip, frame_no, v,
             LAG(v) OVER (PARTITION BY clip, frame_no ORDER BY i) AS pv
      FROM s
    )
    SELECT clip, frame_no,
           CAST(SUM(CASE WHEN pv IS NOT NULL
                         AND (v >= 0) <> (pv >= 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS zcr,
           CAST(MAX(abs(v)) AS BIGINT) AS peak
    FROM lagged GROUP BY clip, frame_no
    """,
    doc="WAV roundtrip certified by ORDER-SENSITIVE statistics: the same "
        "32 deterministic PCM16 clips as wav_roundtrip_frame_energy are "
        "encoded to real RIFF/WAVE bytes and decoded back by the "
        "clean-room wavcodec inside mapInPandas, emitting per-frame "
        "zero-crossing counts (sign flips between CONSECUTIVE samples) "
        "and peak amplitude. Frame energy is permutation-invariant "
        "within a frame — a codec that reordered samples would still "
        "pass it; ZCR pins the sample ORDER, closing that hole. The "
        "oracle replays the sample formula and never sees the bytes. "
        "Scale: decode runs where the binary sits; one aggregate per "
        "frame",
)
def q_wav_zcr_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401

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
    out_schema = "clip long, frame_no long, zcr long, peak long"

    def run(batches):
        import numpy as np

        from .functions.wavcodec import decode_wav, encode_wav

        for pdf in batches:
            rows = {"clip": [], "frame_no": [], "zcr": [], "peak": []}
            for clip, samples in zip(pdf["clip"], pdf["samples"]):
                s_arr = np.asarray(samples, dtype=np.int64)
                decoded, rate = decode_wav(
                    encode_wav(s_arr.astype(np.int16), 16000)
                )
                if rate != 16000:
                    raise RuntimeError(
                        f"wav round trip returned rate {rate}, not 16000"
                    )
                v = decoded[:, 0].astype(np.int64).reshape(-1, 160)
                flips = ((v[:, :-1] >= 0) != (v[:, 1:] >= 0)).sum(axis=1)
                peak = np.abs(v).max(axis=1)
                n = v.shape[0]
                rows["clip"].extend([int(clip)] * n)
                rows["frame_no"].extend(range(n))
                rows["zcr"].extend(int(x) for x in flips)
                rows["peak"].extend(int(x) for x in peak)
            yield pd.DataFrame(rows)

    return with_samples.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Hilbert vs Z-order layout audit (range-scan clustering, Moon et al. 1998)
# ---------------------------------------------------------------------------

# one Hilbert xy2d step at scale S on a 64x64 grid, shared by both engines
# (pure arithmetic: (3*rx) XOR ry == rx*(3-ry) + (1-rx)*ry for bits).
# rot(n=64): if ry=0 then (flip if rx=1, then swap x/y).
def _hilbert_step_sql(S: int, intdiv: str) -> str:
    return (
        f"SELECT x0, y0, "
        f"d + {S * S} * (rx * (3 - ry) + (1 - rx) * ry) AS d, "
        f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 63 - y ELSE y END) "
        f"ELSE x END AS x, "
        f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 63 - x ELSE x END) "
        f"ELSE y END AS y "
        f"FROM (SELECT x0, y0, x, y, d, ((x {intdiv} {S}) % 2) AS rx, "
        f"((y {intdiv} {S}) % 2) AS ry FROM {{prev}}) t"
    )


def _zorder_sql(intdiv: str) -> str:
    return " + ".join(
        f"((x0 {intdiv} {1 << b}) % 2) * {1 << (2 * b)}"
        f" + ((y0 {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}"
        for b in range(6)
    )


def _hilbert_oracle() -> str:
    steps = []
    prev = "h0"
    for i, S in enumerate((32, 16, 8, 4, 2, 1), start=1):
        steps.append(
            f"h{i} AS ({_hilbert_step_sql(S, '//').format(prev=prev)})"
        )
        prev = f"h{i}"
    chain = ",\n".join(steps)
    return f"""
    WITH cells AS (
      SELECT a.i AS x0, b.i AS y0
      FROM (SELECT unnest(range(0, 64)) AS i) a,
           (SELECT unnest(range(0, 64)) AS i) b
    ),
    h0 AS (SELECT x0, y0, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d
           FROM cells),
    {chain},
    curves AS (
      SELECT x0, y0, 'hilbert' AS curve, d FROM {prev}
      UNION ALL
      SELECT x0, y0, 'zorder', CAST({_zorder_sql('//')} AS BIGINT)
      FROM cells
      UNION ALL
      SELECT x0, y0, 'rowmajor', CAST(y0 * 64 + x0 AS BIGINT) FROM cells
    ),
    qs AS (
      SELECT a.i * 4 AS qx, b.i * 4 AS qy
      FROM (SELECT unnest(range(0, 15)) AS i) a,
           (SELECT unnest(range(0, 15)) AS i) b
    ),
    hits AS (
      SELECT c.curve, q.qx, q.qy, c.d,
             LAG(c.d) OVER (PARTITION BY c.curve, q.qx, q.qy
                            ORDER BY c.d) AS pd
      FROM curves c JOIN qs q
        ON c.x0 >= q.qx AND c.x0 < q.qx + 8
       AND c.y0 >= q.qy AND c.y0 < q.qy + 8
    ),
    per_q AS (
      SELECT curve, qx, qy,
             1 + CAST(SUM(CASE WHEN pd IS NOT NULL AND d <> pd + 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS clusters
      FROM hits GROUP BY curve, qx, qy
    ),
    bij AS (
      SELECT curve, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_distinct
      FROM curves GROUP BY curve
    )
    SELECT p.curve,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(p.clusters) AS BIGINT) AS total_clusters,
           CAST(SUM(p.clusters) AS BIGINT) * 1000
             // CAST(COUNT(*) AS BIGINT) AS mean_clusters_e3,
           MAX(b.n_distinct) AS n_distinct_indexes
    FROM per_q p JOIN bij b ON b.curve = p.curve
    GROUP BY p.curve ORDER BY p.curve
    """


@register(
    "hilbert_order_audit",
    oracle=_hilbert_oracle(),
    doc="Hilbert-curve vs Z-order vs row-major layout audit (Moon et al., "
        "'Analysis of the Clustering Properties of the Hilbert Space-"
        "Filling Curve', TKDE 2001): index every cell of a 64x64 grid "
        "with each curve (Hilbert xy2d as a 6-step bit-arithmetic unroll "
        "- (3*rx) XOR ry rewritten as pure arithmetic on bits so both "
        "engines share the formula), then for all 225 UNALIGNED 8x8 "
        "query windows count the contiguous index runs a range scan "
        "needs. Hilbert needs ~24% fewer clusters than Z-order here — "
        "the measured justification for the sources/layouts Z-order "
        "writer to grow a Hilbert option; n_distinct_indexes = 4096 "
        "certifies bijectivity in-query. Scale: the audit is O(grid), "
        "data-independent; at fact scale the same unroll is a scan-side "
        "projection on (bucketized) sort keys",
)
def q_hilbert_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        spark.range(64).select(F.col("id").alias("x0"))
        .crossJoin(spark.range(64).select(F.col("id").alias("y0")))
    )
    h = cells.select(
        "x0", "y0", F.col("x0").alias("x"), F.col("y0").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    for S in (32, 16, 8, 4, 2, 1):
        h = h.select(
            "x0", "y0", "x", "y", "d",
            F.expr(f"(x div {S}) % 2").alias("rx"),
            F.expr(f"(y div {S}) % 2").alias("ry"),
        ).select(
            "x0", "y0",
            F.expr(f"d + {S * S} * (rx * (3 - ry) + (1 - rx) * ry)")
            .alias("d"),
            F.expr("CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 63 - y "
                   "ELSE y END) ELSE x END").alias("x"),
            F.expr("CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 63 - x "
                   "ELSE x END) ELSE y END").alias("y"),
        )
    curves = (
        h.select("x0", "y0", F.lit("hilbert").alias("curve"), "d")
        .unionByName(
            cells.select(
                "x0", "y0", F.lit("zorder").alias("curve"),
                F.expr(_zorder_sql("div")).cast("long").alias("d"),
            )
        )
        .unionByName(
            cells.select(
                "x0", "y0", F.lit("rowmajor").alias("curve"),
                (F.col("y0") * 64 + F.col("x0")).cast("long").alias("d"),
            )
        )
        .localCheckpoint(eager=True)
    )
    qs = (
        spark.range(15).select((F.col("id") * 4).alias("qx"))
        .crossJoin(spark.range(15).select((F.col("id") * 4).alias("qy")))
    )
    hits = curves.join(
        F.broadcast(qs),
        (F.col("x0") >= F.col("qx")) & (F.col("x0") < F.col("qx") + 8)
        & (F.col("y0") >= F.col("qy")) & (F.col("y0") < F.col("qy") + 8),
    )
    wq = Window.partitionBy("curve", "qx", "qy").orderBy("d")
    per_q = (
        hits.withColumn("pd", F.lag("d").over(wq))
        .groupBy("curve", "qx", "qy")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        F.col("pd").isNotNull()
                        & (F.col("d") != F.col("pd") + 1),
                        1,
                    ).otherwise(0)
                )
            ).cast("long").alias("clusters")
        )
    )
    bij = curves.groupBy("curve").agg(
        F.count_distinct("d").cast("long").alias("n_distinct")
    )
    return (
        per_q.groupBy("curve")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("clusters").cast("long").alias("total_clusters"),
            F.expr("sum(clusters) * 1000 div count(*)").cast("long")
            .alias("mean_clusters_e3"),
        )
        .join(F.broadcast(bij), "curve")
        .select(
            "curve", "n_queries", "total_clusters", "mean_clusters_e3",
            F.col("n_distinct").alias("n_distinct_indexes"),
        )
        .orderBy("curve")
    )


# ---------------------------------------------------------------------------
# PCA leading eigenvector via integer power iteration on the gram matrix
# ---------------------------------------------------------------------------

_PCA_ORACLE = """
    WITH q AS (
      SELECT vec_id, t.i,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1024) AS BIGINT)
               AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t
    ),
    g AS (
      SELECT a.i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
      FROM q a JOIN q b ON b.vec_id = a.vec_id
      GROUP BY a.i, b.i
    ),
    v0 AS (
      SELECT unnest(range(1, 65)) AS j, CAST(1000 AS BIGINT) AS v
    ),
    s1 AS (
      SELECT g.i, CAST(SUM(g.g * v0.v) AS BIGINT) AS s
      FROM g JOIN v0 ON v0.j = g.j GROUP BY g.i
    ),
    v1 AS (
      SELECT i AS j,
             s * 1000 // (SELECT MAX(abs(s)) FROM s1) AS v
      FROM s1
    ),
    s2 AS (
      SELECT g.i, CAST(SUM(g.g * v1.v) AS BIGINT) AS s
      FROM g JOIN v1 ON v1.j = g.j GROUP BY g.i
    ),
    v2 AS (
      SELECT i AS j,
             s * 1000 // (SELECT MAX(abs(s)) FROM s2) AS v
      FROM s2
    ),
    s3 AS (
      SELECT g.i, CAST(SUM(g.g * v2.v) AS BIGINT) AS s
      FROM g JOIN v2 ON v2.j = g.j GROUP BY g.i
    ),
    v3 AS (
      SELECT i AS j,
             s * 1000 // (SELECT MAX(abs(s)) FROM s3) AS v
      FROM s3
    )
    SELECT CAST(j AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_e3,
           CAST((SELECT MAX(abs(s)) FROM s3) AS BIGINT) AS gv_peak
    FROM v3 ORDER BY j
    """


@register(
    "pca_power_iter_fixed",
    oracle=_PCA_ORACLE,
    doc="Leading principal direction of the embedding corpus by POWER "
        "ITERATION on the exact integer gram matrix: coordinates quantize "
        "to floor(x * 2^10) (the power-of-two fixed-point trick — "
        "float->double and the scale multiply are lossless), G = Q^T Q "
        "accumulates in exact int64, and three v <- G v steps renormalize "
        "by the max-abs component (e3 scale, truncation toward zero "
        "identical cross-engine) — the eigenvector machinery behind PCA "
        "whitening / spectral embedding sanity checks, exactly "
        "hash-replayable where float PCA never is. gv_peak is the "
        "max-abs component of the last unnormalized product (the "
        "eigenvalue's magnitude proxy). Scale: the gram aggregate is one "
        "map-side-combinable shuffle over scan-side (vec_id, dim, q) "
        "triples; iterations run on the 64x64 matrix regardless of "
        "corpus size — the classic 'small gram, big corpus' shape",
)
def q_pca_power_iter_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import gram_power_eigvec

    emb = _t(spark, sf_dir, "embeddings")
    v, peak = gram_power_eigvec(emb, "embedding", "vec_id", dim=64, iters=3)
    return (
        v.crossJoin(F.broadcast(peak))
        .select(
            F.col("j").cast("long").alias("dim"),
            F.col("v").alias("v_e3"),
            F.col("m").cast("long").alias("gv_peak"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# WordPiece tokenization (greedy longest-match-first) — hash-grade
# ---------------------------------------------------------------------------

# Shared data-derived subword vocabulary for the two tokenizer queries
# below: every single character of the distinct [a-z]{2,12} corpus words
# (guaranteeing no UNK) + the top-15 character bigrams + top-5 trigrams by
# occurrence count across distinct words, ties broken by gram.
_WORDPIECE_ORACLE = """
    WITH RECURSIVE

    w AS (
      SELECT DISTINCT t.tok AS word
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE regexp_matches(t.tok, '^[a-z]{2,12}$')
    ),
    ch AS (
      SELECT DISTINCT substr(word, t.i, 1) AS g
      FROM w, unnest(range(1, length(word) + 1)) AS t(i)
    ),
    bg AS (
      SELECT substr(word, t.i, 2) AS g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w, unnest(range(1, length(word))) AS t(i)
      GROUP BY 1 ORDER BY cnt DESC, g LIMIT 15
    ),
    tg AS (
      SELECT substr(word, t.i, 3) AS g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w, unnest(range(1, length(word) - 1)) AS t(i)
      GROUP BY 1 ORDER BY cnt DESC, g LIMIT 5
    ),
    vocab AS (
      SELECT g FROM ch UNION SELECT g FROM bg UNION SELECT g FROM tg
    ),
    st AS (
      SELECT word, 0 AS pos, '' AS pieces FROM w
      UNION ALL
      SELECT st.word, st.pos + MAX(length(v.g)),
             st.pieces || '|' || arg_max(v.g, length(v.g))
      FROM st JOIN vocab v
        ON substr(st.word, st.pos + 1, length(v.g)) = v.g
      WHERE st.pos < length(st.word)
      GROUP BY st.word, st.pos, st.pieces
    )
    SELECT word,
           CAST(length(pieces) - length(replace(pieces, '|', ''))
                AS BIGINT) AS n_pieces,
           pieces
    FROM st WHERE pos = length(word) ORDER BY word
    """


def _subword_vocab(spark: SparkSession, sf_dir: str):
    """(words, vocab) DataFrames mirroring the oracle's VOCAB CTEs."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{2,12}$"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def grams(n, top):
        g = (
            w.select(
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(word) - {n - 1}), "
                        f"i -> substr(word, i, {n}))"
                    )
                ).alias("g")
            )
            .groupBy("g")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        if top:
            g = g.orderBy(F.desc("cnt"), "g").limit(top)
        return g

    # vocab carries the occurrence count so the unigram scorer below can
    # reuse it instead of re-exploding the word table a second time
    vocab = (
        grams(1, None)
        .unionByName(grams(2, 15))
        .unionByName(grams(3, 5))
        .groupBy("g").agg(F.max("cnt").alias("cnt"))
        .select("g", F.length("g").alias("len"), "cnt")
        .localCheckpoint(eager=True)
    )
    return w, vocab


@register(
    "wordpiece_tokenize_fixed",
    oracle=_WORDPIECE_ORACLE,
    doc="WordPiece tokenization (Wu et al. 2016, the BERT tokenizer "
        "rule): greedy LONGEST-MATCH-FIRST against a subword vocabulary "
        "(every corpus character + top char bigrams/trigrams — chars "
        "guarantee no UNK), one piece consumed per round, max 12 rounds "
        "(the word-length bound). The third tokenizer family next to BPE "
        "(merge-rank order, bpe_tokenize_fertility_fixed) and the "
        "unigram-LM Viterbi below — same vocabulary, different linking "
        "rule, so the three are mutually diagnostic. DuckDB replays the "
        "greedy recursion with arg_max over the piece join; ties are "
        "impossible (equal-length matches at one position are the same "
        "string). Scale: per round one broadcast join of the word-state "
        "table against the vocabulary — O(max word length) tiny rounds "
        "over a Heaps-law distinct-word table",
)
def q_wordpiece_tokenize_fixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w, vocab = _subword_vocab(spark, sf_dir)
    states = w.select(
        "word", F.lit(0).alias("pos"), F.lit("").alias("pieces")
    )
    done_parts = []
    for _ in range(12):
        active = states.filter(F.col("pos") < F.length("word"))
        done_parts.append(
            states.filter(F.col("pos") >= F.length("word"))
        )
        states = (
            active.join(
                F.broadcast(vocab),
                F.expr("substr(word, pos + 1, len) = g"),
            )
            .groupBy("word", "pos", "pieces")
            .agg(
                F.max("len").alias("blen"),
                F.expr("max_by(g, len)").alias("bg"),
            )
            .select(
                "word",
                (F.col("pos") + F.col("blen")).alias("pos"),
                F.concat("pieces", F.lit("|"), "bg").alias("pieces"),
            )
            .localCheckpoint(eager=True)
        )
    out = states
    for d in done_parts:
        out = out.unionByName(d)
    return (
        out.filter(F.col("pos") >= F.length("word"))
        .select(
            "word",
            (F.length("pieces")
             - F.length(F.regexp_replace("pieces", "\\|", "")))
            .cast("long").alias("n_pieces"),
            "pieces",
        )
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# Unigram-LM segmentation (Viterbi DP) — hash-grade
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = """
    WITH

    w AS (
      SELECT DISTINCT t.tok AS word
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE regexp_matches(t.tok, '^[a-z]{2,12}$')
    ),
    ch AS (
      SELECT DISTINCT substr(word, t.i, 1) AS g
      FROM w, unnest(range(1, length(word) + 1)) AS t(i)
    ),
    bg AS (
      SELECT substr(word, t.i, 2) AS g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w, unnest(range(1, length(word))) AS t(i)
      GROUP BY 1 ORDER BY cnt DESC, g LIMIT 15
    ),
    tg AS (
      SELECT substr(word, t.i, 3) AS g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w, unnest(range(1, length(word) - 1)) AS t(i)
      GROUP BY 1 ORDER BY cnt DESC, g LIMIT 5
    ),
    vocab AS (
      SELECT g FROM ch UNION SELECT g FROM bg UNION SELECT g FROM tg
    ),
    occ AS (
      SELECT substr(word, t.i, 1) AS g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w, unnest(range(1, length(word) + 1)) AS t(i) GROUP BY 1
      UNION ALL
      SELECT substr(word, t.i, 2), CAST(COUNT(*) AS BIGINT)
      FROM w, unnest(range(1, length(word))) AS t(i) GROUP BY 1
      UNION ALL
      SELECT substr(word, t.i, 3), CAST(COUNT(*) AS BIGINT)
      FROM w, unnest(range(1, length(word) - 1)) AS t(i) GROUP BY 1
    ),
    vs AS (
      SELECT v.g, length(v.g) AS l,
             1000 * length(v.g) + length(bin(o.cnt)) AS score
      FROM vocab v JOIN occ o ON o.g = v.g
    ),
    ss AS (
      SELECT w.word, t.i + vs.l - 1 AS endpos, vs.l, vs.score
      FROM w, unnest(range(1, length(word) + 1)) AS t(i)
      JOIN vs ON t.i + vs.l - 1 <= length(w.word)
             AND substr(w.word, t.i, vs.l) = vs.g
    ),
    d0 AS (
      SELECT word, 0 AS k, CAST(0 AS BIGINT) AS v0,
             CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2
      FROM w
    ),
    d1 AS (
      SELECT d.word, 1 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d0 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 1 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 1 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 1 AND s3.l = 3
      WHERE length(d.word) >= 1
    ),
    d2 AS (
      SELECT d.word, 2 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d1 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 2 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 2 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 2 AND s3.l = 3
      WHERE length(d.word) >= 2
    ),
    d3 AS (
      SELECT d.word, 3 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d2 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 3 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 3 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 3 AND s3.l = 3
      WHERE length(d.word) >= 3
    ),
    d4 AS (
      SELECT d.word, 4 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d3 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 4 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 4 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 4 AND s3.l = 3
      WHERE length(d.word) >= 4
    ),
    d5 AS (
      SELECT d.word, 5 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d4 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 5 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 5 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 5 AND s3.l = 3
      WHERE length(d.word) >= 5
    ),
    d6 AS (
      SELECT d.word, 6 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d5 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 6 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 6 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 6 AND s3.l = 3
      WHERE length(d.word) >= 6
    ),
    d7 AS (
      SELECT d.word, 7 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d6 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 7 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 7 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 7 AND s3.l = 3
      WHERE length(d.word) >= 7
    ),
    d8 AS (
      SELECT d.word, 8 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d7 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 8 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 8 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 8 AND s3.l = 3
      WHERE length(d.word) >= 8
    ),
    d9 AS (
      SELECT d.word, 9 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d8 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 9 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 9 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 9 AND s3.l = 3
      WHERE length(d.word) >= 9
    ),
    d10 AS (
      SELECT d.word, 10 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d9 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 10 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 10 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 10 AND s3.l = 3
      WHERE length(d.word) >= 10
    ),
    d11 AS (
      SELECT d.word, 11 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d10 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 11 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 11 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 11 AND s3.l = 3
      WHERE length(d.word) >= 11
    ),
    d12 AS (
      SELECT d.word, 12 AS k,
             GREATEST(
               COALESCE(s1.score + d.v0, -1000000000),
               COALESCE(s2.score + d.v1, -1000000000),
               COALESCE(s3.score + d.v2, -1000000000)) AS v0,
             d.v0 AS v1, d.v1 AS v2
      FROM d11 d
      LEFT JOIN ss s1 ON s1.word = d.word AND s1.endpos = 12 AND s1.l = 1
      LEFT JOIN ss s2 ON s2.word = d.word AND s2.endpos = 12 AND s2.l = 2
      LEFT JOIN ss s3 ON s3.word = d.word AND s3.endpos = 12 AND s3.l = 3
      WHERE length(d.word) >= 12
    )
    SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
           CAST(v0 AS BIGINT) AS best_score
    FROM (SELECT word, v0 FROM d2 WHERE length(word) = 2 UNION ALL SELECT word, v0 FROM d3 WHERE length(word) = 3 UNION ALL SELECT word, v0 FROM d4 WHERE length(word) = 4 UNION ALL SELECT word, v0 FROM d5 WHERE length(word) = 5 UNION ALL SELECT word, v0 FROM d6 WHERE length(word) = 6 UNION ALL SELECT word, v0 FROM d7 WHERE length(word) = 7 UNION ALL SELECT word, v0 FROM d8 WHERE length(word) = 8 UNION ALL SELECT word, v0 FROM d9 WHERE length(word) = 9 UNION ALL SELECT word, v0 FROM d10 WHERE length(word) = 10 UNION ALL SELECT word, v0 FROM d11 WHERE length(word) = 11 UNION ALL SELECT word, v0 FROM d12 WHERE length(word) = 12) f(word, v0)
    ORDER BY word
    """


@register(
    "unigram_lm_segment_fixed",
    oracle=_UNIGRAM_ORACLE,
    doc="Unigram-LM subword segmentation (Kudo, ACL 2018 — the "
        "SentencePiece unigram model's Viterbi step): over the same "
        "subword vocabulary as wordpiece_tokenize_fixed, each word's "
        "BEST segmentation maximizes the sum of integer piece scores "
        "(1000*len + bitlen(count) — the integer-log trick), found by "
        "exact Viterbi DP over positions. Pieces are at most 3 chars, so "
        "the DP state is a sliding window of three best-score registers "
        "— each step is three LEFT joins against the static "
        "(word, endpos, len)->score table, 12 unrolled steps (the "
        "word-length bound), identical in both engines. Unlike greedy "
        "WordPiece this is globally optimal — the pair pins exactly "
        "where greedy loses. Scale: the DP is O(word_len) tiny rounds "
        "over the distinct-word table; the score table builds scan-side",
)
def q_unigram_lm_segment_fixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w, vocab = _subword_vocab(spark, sf_dir)
    vs = vocab.select(
        "g", "len",
        F.expr("1000 * len + length(conv(cnt, 10, 2))").cast("long")
        .alias("score"),
    )
    ss = (
        w.select(
            "word",
            F.explode(
                F.expr("sequence(1, length(word))")
            ).alias("i"),
        )
        .join(
            F.broadcast(vs),
            F.expr("i + len - 1 <= length(word) "
                   "AND substr(word, i, len) = g"),
        )
        .select(
            "word", (F.col("i") + F.col("len") - 1).alias("endpos"),
            F.col("len").alias("l"), "score",
        )
        .localCheckpoint(eager=True)
    )
    d = w.select(
        "word", F.lit(0).cast("long").alias("v0"),
        F.lit(None).cast("long").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
    )
    finals = []
    for k in range(1, 13):
        d = d.filter(F.length("word") >= k)
        for l in (1, 2, 3):
            sl = ss.filter(
                (F.col("endpos") == k) & (F.col("l") == l)
            ).select("word", F.col("score").alias(f"sc{l}"))
            d = d.join(F.broadcast(sl), "word", "left")
        d = d.select(
            "word",
            F.greatest(
                F.coalesce(F.col("sc1") + F.col("v0"),
                           F.lit(-1_000_000_000)),
                F.coalesce(F.col("sc2") + F.col("v1"),
                           F.lit(-1_000_000_000)),
                F.coalesce(F.col("sc3") + F.col("v2"),
                           F.lit(-1_000_000_000)),
            ).cast("long").alias("v0"),
            F.col("v0").alias("v1"), F.col("v1").alias("v2"),
        ).localCheckpoint(eager=True)
        finals.append(
            d.filter(F.length("word") == k).select("word", "v0")
        )
    out = finals[0]
    for f_ in finals[1:]:
        out = out.unionByName(f_)
    return out.select(
        "word", F.length("word").cast("long").alias("n_chars"),
        F.col("v0").cast("long").alias("best_score"),
    ).orderBy("word")


# ---------------------------------------------------------------------------
# Rich-club coefficient over the co-purchase graph
# ---------------------------------------------------------------------------

@register(
    "rich_club_coefficient",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    ),
    e AS (SELECT p1 AS u, p2 AS v FROM pr UNION ALL SELECT p2, p1 FROM pr),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
    club AS (
      SELECT ks.k, deg.u FROM ks JOIN deg ON deg.d > ks.k
    ),
    nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM club GROUP BY k),
    ek AS (
      SELECT c1.k, CAST(COUNT(*) AS BIGINT) AS m
      FROM pr JOIN club c1 ON c1.u = pr.p1
              JOIN club c2 ON c2.k = c1.k AND c2.u = pr.p2
      GROUP BY c1.k
    )
    SELECT CAST(nk.k AS BIGINT) AS k, nk.n AS n_club_nodes,
           COALESCE(ek.m, 0) AS n_club_edges,
           CASE WHEN nk.n >= 2
                THEN 2 * COALESCE(ek.m, 0) * 1000000
                     // (nk.n * (nk.n - 1))
                ELSE 0 END AS phi_ppm
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    ORDER BY nk.k
    """,
    doc="Rich-club coefficient (Colizza et al., Nature Physics 2006) of "
        "the co-purchase part graph: for degree thresholds k in "
        "{2,4,8,16}, phi(k) = 2*E_club / (N_club*(N_club-1)) — how "
        "densely the high-degree 'rich' nodes interconnect, the hub-"
        "oligarchy diagnostic that degree_assortativity (correlation) "
        "and clustering_coefficient (triangles) don't capture. Exact "
        "int64 ppm. Scale: one degree aggregate + one broadcastable "
        "club-membership join per threshold over the one-directional "
        "pair list; no pair enumeration beyond the existing edges",
)
def q_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs

    li = _t(spark, sf_dir, "lineitem")
    pr = co_purchase_pairs(li).localCheckpoint(eager=True)
    e = pr.select(F.col("p1").alias("u")).unionByName(
        pr.select(F.col("p2").alias("u"))
    )
    deg = e.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    ks = spark.createDataFrame([(2,), (4,), (8,), (16,)], "k long")
    club = ks.join(deg, F.col("d") > F.col("k")).select("k", "u")
    nk = club.groupBy("k").agg(F.count("*").cast("long").alias("n"))
    c1 = club.select(F.col("k").alias("k1"), F.col("u").alias("m1"))
    c2 = club.select(F.col("k").alias("k2"), F.col("u").alias("m2"))
    ek = (
        pr.join(c1, pr.p1 == c1.m1)
        .join(c2, (F.col("k2") == F.col("k1")) & (pr.p2 == F.col("m2")))
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count("*").cast("long").alias("m"))
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            "k", F.col("n").alias("n_club_nodes"),
            F.coalesce("m", F.lit(0)).cast("long").alias("n_club_edges"),
            F.when(
                F.col("n") >= 2,
                F.expr("2 * coalesce(m, 0) * 1000000 div (n * (n - 1))"),
            ).otherwise(0).cast("long").alias("phi_ppm"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------

@register(
    "burrows_delta_sources",
    oracle="""
    WITH w AS (
      SELECT d.source, t.tok AS word
      FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
      WHERE regexp_matches(t.tok, '^[a-z]{2,12}$')
    ),
    topw AS (
      SELECT word FROM w GROUP BY word
      ORDER BY COUNT(*) DESC, word LIMIT 20
    ),
    stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM w
             GROUP BY source),
    f AS (
      SELECT s.source, tw.word,
             COALESCE(c.c, 0) * 1000000 // s.n AS fr_ppm
      FROM stot s CROSS JOIN topw tw
      LEFT JOIN (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
        FROM w JOIN topw USING (word) GROUP BY source, word
      ) c ON c.source = s.source AND c.word = tw.word
    ),
    mo AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(fr_ppm) AS BIGINT) AS sm,
             CAST(SUM(fr_ppm * fr_ppm) AS BIGINT) AS ss
      FROM f GROUP BY word
    ),
    z AS (
      SELECT f.source, f.word,
             CAST(floor((f.fr_ppm * mo.k - mo.sm) * 1000.0
                  / sqrt(CAST(mo.k * mo.ss - mo.sm * mo.sm AS DOUBLE)))
                  AS BIGINT) AS z_e3
      FROM f JOIN mo ON mo.word = f.word
      WHERE mo.k * mo.ss > mo.sm * mo.sm
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(SUM(abs(a.z_e3 - b.z_e3)) AS BIGINT) AS l1,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM z a JOIN z b ON b.word = a.word AND b.source > a.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, n_words,
           l1 // n_words AS delta_e3
    FROM pairs ORDER BY src_a, src_b
    """,
    doc="Burrows' Delta (Burrows 2002, the standard stylometric "
        "authorship distance): z-score each source's relative frequency "
        "of the top-20 corpus words across sources (exact ppm "
        "frequencies and integer moments; the z is ONE double expression "
        "— int casts, *, /, sqrt are correctly-rounded IEEE — floored to "
        "e3), then Delta(a,b) = mean |z_a - z_b| over the word panel. "
        "The authorship/style-drift screen a corpus-curation pipeline "
        "runs next to js_divergence_sources (topical drift): Delta "
        "isolates FUNCTION-word style. Scale: one (source x word) "
        "aggregate; the pair distance runs on the (sources x 20) z "
        "table, never the corpus",
)
def q_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word").rlike("^[a-z]{2,12}$")).localCheckpoint(
        eager=True
    )
    topw = (
        w.groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word").limit(20).select("word")
    )
    stot = w.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    c = (
        w.join(F.broadcast(topw), "word")
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    f = (
        stot.crossJoin(F.broadcast(topw))
        .join(c, ["source", "word"], "left")
        .select(
            "source", "word",
            F.expr("coalesce(c, 0) * 1000000 div n").alias("fr_ppm"),
        )
    )
    mo = f.groupBy("word").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("fr_ppm").cast("long").alias("sm"),
        F.sum(F.col("fr_ppm") * F.col("fr_ppm")).cast("long").alias("ss"),
    )
    z = (
        f.join(mo, "word")
        .filter(F.col("k") * F.col("ss") > F.col("sm") * F.col("sm"))
        .select(
            "source", "word",
            F.floor(
                (F.col("fr_ppm") * F.col("k") - F.col("sm")) * 1000.0
                / F.sqrt(
                    (F.col("k") * F.col("ss")
                     - F.col("sm") * F.col("sm")).cast("double")
                )
            ).cast("long").alias("z_e3"),
        )
    )
    a = z.select(F.col("source").alias("src_a"), "word",
                 F.col("z_e3").alias("za"))
    b = z.select(F.col("source").alias("src_b"),
                 F.col("word").alias("wb"), F.col("z_e3").alias("zb"))
    return (
        a.join(b, (F.col("wb") == F.col("word"))
               & (F.col("src_b") > F.col("src_a")))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.abs(F.col("za") - F.col("zb"))).cast("long")
            .alias("l1"),
            F.count("*").cast("long").alias("n_words"),
        )
        .select(
            "src_a", "src_b", "n_words",
            F.expr("l1 div n_words").alias("delta_e3"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage document selection (submodular curation primitive)
# ---------------------------------------------------------------------------

_COVERAGE_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         x -> regexp_matches(x, '^[a-z]{2,12}$')) AS ws
      FROM documents
    ),
    bg AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
      FROM toks, unnest(range(1, len(ws))) AS t(i)
    ),
    topb AS (
      SELECT g, row_number() OVER (ORDER BY COUNT(*) DESC, g) - 1 AS wid
      FROM bg GROUP BY g ORDER BY COUNT(*) DESC, g LIMIT 60
    ),
    masks AS (
      SELECT bg.doc_id,
             CAST(bit_or(1::BIGINT << CAST(topb.wid AS INTEGER))
                  AS BIGINT) AS mask
      FROM bg JOIN topb USING (g) GROUP BY bg.doc_id
    ),
    g0 AS (SELECT 0 AS k, CAST(0 AS BIGINT) AS covered, ',' AS picks),
    
    g1 AS (
      SELECT 1 AS k, m.doc_id,
             bit_count(m.mask | g.covered) - bit_count(g.covered) AS gain,
             m.mask | g.covered AS covered,
             g.picks || CAST(m.doc_id AS VARCHAR) || ',' AS picks
      FROM masks m, g0 g
      WHERE instr(g.picks, ',' || CAST(m.doc_id AS VARCHAR) || ',') = 0
      ORDER BY bit_count(m.mask | g.covered) DESC, m.doc_id LIMIT 1
    ),
    g2 AS (
      SELECT 2 AS k, m.doc_id,
             bit_count(m.mask | g.covered) - bit_count(g.covered) AS gain,
             m.mask | g.covered AS covered,
             g.picks || CAST(m.doc_id AS VARCHAR) || ',' AS picks
      FROM masks m, g1 g
      WHERE instr(g.picks, ',' || CAST(m.doc_id AS VARCHAR) || ',') = 0
      ORDER BY bit_count(m.mask | g.covered) DESC, m.doc_id LIMIT 1
    ),
    g3 AS (
      SELECT 3 AS k, m.doc_id,
             bit_count(m.mask | g.covered) - bit_count(g.covered) AS gain,
             m.mask | g.covered AS covered,
             g.picks || CAST(m.doc_id AS VARCHAR) || ',' AS picks
      FROM masks m, g2 g
      WHERE instr(g.picks, ',' || CAST(m.doc_id AS VARCHAR) || ',') = 0
      ORDER BY bit_count(m.mask | g.covered) DESC, m.doc_id LIMIT 1
    ),
    g4 AS (
      SELECT 4 AS k, m.doc_id,
             bit_count(m.mask | g.covered) - bit_count(g.covered) AS gain,
             m.mask | g.covered AS covered,
             g.picks || CAST(m.doc_id AS VARCHAR) || ',' AS picks
      FROM masks m, g3 g
      WHERE instr(g.picks, ',' || CAST(m.doc_id AS VARCHAR) || ',') = 0
      ORDER BY bit_count(m.mask | g.covered) DESC, m.doc_id LIMIT 1
    ),
    g5 AS (
      SELECT 5 AS k, m.doc_id,
             bit_count(m.mask | g.covered) - bit_count(g.covered) AS gain,
             m.mask | g.covered AS covered,
             g.picks || CAST(m.doc_id AS VARCHAR) || ',' AS picks
      FROM masks m, g4 g
      WHERE instr(g.picks, ',' || CAST(m.doc_id AS VARCHAR) || ',') = 0
      ORDER BY bit_count(m.mask | g.covered) DESC, m.doc_id LIMIT 1
    )
    SELECT CAST(k AS BIGINT) AS round, doc_id,
           CAST(gain AS BIGINT) AS gain,
           CAST(bit_count(covered) AS BIGINT) AS covered_total
    FROM (SELECT k, doc_id, gain, covered FROM g1 UNION ALL SELECT k, doc_id, gain, covered FROM g2 UNION ALL SELECT k, doc_id, gain, covered FROM g3 UNION ALL SELECT k, doc_id, gain, covered FROM g4 UNION ALL SELECT k, doc_id, gain, covered FROM g5) f(k, doc_id, gain, covered)
    ORDER BY round
    """


@register(
    "greedy_max_coverage",
    oracle=_COVERAGE_ORACLE,
    doc="Greedy maximum-coverage document selection (the (1-1/e) "
        "submodular greedy, Nemhauser et al. 1978): the coverage "
        "universe is the top-60 corpus bigrams, each document is its "
        "60-bit coverage mask (bit_or of 1<<rank), and 5 greedy rounds "
        "pick the document with the largest marginal gain "
        "(bit_count(mask|covered) - bit_count(covered), ties by doc_id) "
        "— the coverage-based data-selection primitive behind corpus "
        "subset curation, next to dsir_importance_weights (distribution "
        "matching) and semantic dedup (redundancy removal). All state "
        "is one int64 bitmask + a picked-id list. Scale: masks build "
        "scan-side (one bigram shuffle); each round is one TakeOrdered "
        "over the doc-mask table with a 1-row broadcast state",
)
def q_greedy_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), "
               "x -> x rlike '^[a-z]{2,12}$')").alias("ws"),
    )
    n = F.size("ws")
    bg = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n - 1), F.slice("ws", 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("g"),
    )
    from .functions.windows import bounded_window

    topb = (
        bg.groupBy("g").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "g").limit(60)
        .select(
            "g",
            (F.row_number().over(
                bounded_window(F.desc("cnt"), F.col("g"))
            ) - 1).alias("wid"),
        )
    )
    masks = (
        bg.join(F.broadcast(topb), "g")
        .groupBy("doc_id")
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(wid as int)))")
            .cast("long").alias("mask")
        )
        .localCheckpoint(eager=True)
    )
    state = spark.createDataFrame(
        [(0, ",")], "covered long, picks string"
    )
    rows = []
    for k in range(1, 6):
        best = (
            masks.crossJoin(F.broadcast(state))
            .filter(
                F.expr("instr(picks, concat(',', cast(doc_id as string), "
                       "','))") == 0
            )
            .orderBy(
                F.expr("bit_count(mask | covered)").desc(), "doc_id"
            )
            .limit(1)
            .select(
                F.lit(k).cast("long").alias("round"),
                "doc_id",
                F.expr("cast(bit_count(mask | covered) - "
                       "bit_count(covered) as long)").alias("gain"),
                F.expr("mask | covered").alias("covered"),
                F.expr("concat(picks, cast(doc_id as string), ',')")
                .alias("picks"),
            )
            .localCheckpoint(eager=True)
        )
        rows.append(
            best.select(
                "round", "doc_id", "gain",
                F.expr("cast(bit_count(covered) as long)")
                .alias("covered_total"),
            )
        )
        state = best.select("covered", "picks")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Gonzalez farthest-first k-center (diversity / coreset sampling)
# ---------------------------------------------------------------------------

_KCENTER_ORACLE = """
    WITH q AS (
      SELECT vec_id, t.i,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1024) AS BIGINT)
               AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t
    ),
    d1 AS (
      SELECT a.vec_id,
             CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT) AS d2
      FROM q a
      JOIN q c ON c.i = a.i AND c.vec_id = (SELECT MIN(vec_id) FROM q)
      GROUP BY a.vec_id
    ),
    
    p2 AS (
      SELECT vec_id, d2 FROM d1 ORDER BY d2 DESC, vec_id LIMIT 1
    ),
    d2 AS (
      SELECT a.vec_id,
             LEAST(pd.d2,
                   CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT)) AS d2
      FROM q a
      JOIN q c ON c.i = a.i AND c.vec_id = (SELECT vec_id FROM p2)
      JOIN d1 pd ON pd.vec_id = a.vec_id
      GROUP BY a.vec_id, pd.d2
    ),
    p3 AS (
      SELECT vec_id, d2 FROM d2 ORDER BY d2 DESC, vec_id LIMIT 1
    ),
    d3 AS (
      SELECT a.vec_id,
             LEAST(pd.d2,
                   CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT)) AS d2
      FROM q a
      JOIN q c ON c.i = a.i AND c.vec_id = (SELECT vec_id FROM p3)
      JOIN d2 pd ON pd.vec_id = a.vec_id
      GROUP BY a.vec_id, pd.d2
    ),
    p4 AS (
      SELECT vec_id, d2 FROM d3 ORDER BY d2 DESC, vec_id LIMIT 1
    ),
    d4 AS (
      SELECT a.vec_id,
             LEAST(pd.d2,
                   CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT)) AS d2
      FROM q a
      JOIN q c ON c.i = a.i AND c.vec_id = (SELECT vec_id FROM p4)
      JOIN d3 pd ON pd.vec_id = a.vec_id
      GROUP BY a.vec_id, pd.d2
    ),
    p5 AS (
      SELECT vec_id, d2 FROM d4 ORDER BY d2 DESC, vec_id LIMIT 1
    ),
    d5 AS (
      SELECT a.vec_id,
             LEAST(pd.d2,
                   CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT)) AS d2
      FROM q a
      JOIN q c ON c.i = a.i AND c.vec_id = (SELECT vec_id FROM p5)
      JOIN d4 pd ON pd.vec_id = a.vec_id
      GROUP BY a.vec_id, pd.d2
    )
    SELECT * FROM (SELECT CAST(1 AS BIGINT) AS round, (SELECT MIN(vec_id) FROM q) AS center_id, CAST(0 AS BIGINT) AS radius_sq UNION ALL SELECT CAST(2 AS BIGINT), vec_id, CAST(d2 AS BIGINT) FROM p2 UNION ALL SELECT CAST(3 AS BIGINT), vec_id, CAST(d2 AS BIGINT) FROM p3 UNION ALL SELECT CAST(4 AS BIGINT), vec_id, CAST(d2 AS BIGINT) FROM p4 UNION ALL SELECT CAST(5 AS BIGINT), vec_id, CAST(d2 AS BIGINT) FROM p5) f(round, center_id, radius_sq)
    ORDER BY round
    """


@register(
    "gonzalez_kcenter_fixed",
    oracle=_KCENTER_ORACLE,
    doc="Gonzalez farthest-first traversal (Gonzalez 1985, the 2-approx "
        "k-center algorithm): seed with the minimum vec_id, then 4 "
        "times pick the embedding FARTHEST (max min-distance, ties by "
        "id) from the chosen set — the diversity-sampling / coreset "
        "primitive a curation pipeline uses to spread a labeling or "
        "eval budget, the opposite selection pressure from "
        "semantic-dedup. Distances are exact int64 squared L2 over "
        "floor(x*2^10)-quantized coordinates, so every pick and radius "
        "hash-matches. radius_sq at selection time is the covering "
        "radius before that center is added (the k-center objective "
        "trajectory). Scale: each round is one dim-keyed join against "
        "the 64-row center vector + one min-update of the O(n) "
        "min-distance table — no pairwise matrix, ever",
)
def q_gonzalez_kcenter_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(embedding, e -> "
                   "cast(floor(cast(e as double) * 1024) as long))")
        ).alias("i0", "q"),
    ).select(
        "vec_id", (F.col("i0") + 1).cast("long").alias("i"), "q"
    ).localCheckpoint(eager=True)

    def dist_to(center_id_df):
        qc = q.join(
            F.broadcast(center_id_df.select(F.col("vec_id").alias("cid"))),
            F.col("vec_id") == F.col("cid"),
        ).select(F.col("i").alias("ci"), F.col("q").alias("cq"))
        return (
            q.join(F.broadcast(qc), F.col("i") == F.col("ci"))
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("q") - F.col("cq"))
                      * (F.col("q") - F.col("cq")))
                .cast("long").alias("nd2")
            )
        )

    c1 = q.agg(F.min("vec_id").alias("vec_id"))
    rows = [
        c1.select(
            F.lit(1).cast("long").alias("round"),
            F.col("vec_id").alias("center_id"),
            F.lit(0).cast("long").alias("radius_sq"),
        )
    ]
    mind = dist_to(c1).select(
        "vec_id", F.col("nd2").alias("d2")
    ).localCheckpoint(eager=True)
    for r in range(2, 6):
        pick = mind.orderBy(F.desc("d2"), "vec_id").limit(1) \
            .localCheckpoint(eager=True)
        rows.append(
            pick.select(
                F.lit(r).cast("long").alias("round"),
                F.col("vec_id").alias("center_id"),
                F.col("d2").cast("long").alias("radius_sq"),
            )
        )
        if r < 5:
            nd = dist_to(pick)
            mind = (
                mind.join(nd, "vec_id")
                .select(
                    "vec_id", F.least("d2", "nd2").alias("d2")
                )
                .localCheckpoint(eager=True)
            )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Perceptual DCT hash (pHash) pairs with the real PNG codec in the loop
# ---------------------------------------------------------------------------

# DCT-II basis rows k=0..3 over n=0..7, frozen as floor(cos(pi*(2n+1)k/16)
# * 2^14) literals — computed ONCE in python and embedded in both engines,
# so no transcendental is ever evaluated cross-engine.
_DCT_LITS = [
    (0, 0, 16384),
    (0, 1, 16384),
    (0, 2, 16384),
    (0, 3, 16384),
    (0, 4, 16384),
    (0, 5, 16384),
    (0, 6, 16384),
    (0, 7, 16384),
    (1, 0, 16069),
    (1, 1, 13622),
    (1, 2, 9102),
    (1, 3, 3196),
    (1, 4, -3197),
    (1, 5, -9103),
    (1, 6, -13623),
    (1, 7, -16070),
    (2, 0, 15136),
    (2, 1, 6269),
    (2, 2, -6270),
    (2, 3, -15137),
    (2, 4, -15137),
    (2, 5, -6270),
    (2, 6, 6269),
    (2, 7, 15136),
    (3, 0, 13622),
    (3, 1, -3197),
    (3, 2, -16070),
    (3, 3, -9103),
    (3, 4, 9102),
    (3, 5, 16069),
    (3, 6, 3196),
    (3, 7, -13623),
]

_PHASH_ORACLE = """
    WITH px AS (
      SELECT i.img, y.y, x.x,
             CAST('0x' || substr(md5('img|' || CAST(i.img AS VARCHAR)
                    || '|' || CAST(y.y AS VARCHAR)
                    || '|' || CAST(x.x AS VARCHAR)), 1, 15) AS BIGINT)
               % 256 AS v
      FROM (SELECT unnest(range(0, 24)) AS img) i,
           (SELECT unnest(range(0, 16)) AS y) y,
           (SELECT unnest(range(0, 16)) AS x) x
    ),
    l AS (
      SELECT img, y // 2 AS i, x // 2 AS j, CAST(SUM(v) AS BIGINT) AS bs
      FROM px GROUP BY img, y // 2, x // 2
    ),
    c(k, n, w) AS (VALUES (0, 0, 16384), (0, 1, 16384), (0, 2, 16384), (0, 3, 16384), (0, 4, 16384), (0, 5, 16384), (0, 6, 16384), (0, 7, 16384), (1, 0, 16069), (1, 1, 13622), (1, 2, 9102), (1, 3, 3196), (1, 4, -3197), (1, 5, -9103), (1, 6, -13623), (1, 7, -16070), (2, 0, 15136), (2, 1, 6269), (2, 2, -6270), (2, 3, -15137), (2, 4, -15137), (2, 5, -6270), (2, 6, 6269), (2, 7, 15136), (3, 0, 13622), (3, 1, -3197), (3, 2, -16070), (3, 3, -9103), (3, 4, 9102), (3, 5, 16069), (3, 6, 3196), (3, 7, -13623)),
    d AS (
      SELECT l.img, cu.k AS u, cv.k AS v,
             CAST(SUM(cu.w * l.bs * cv.w) AS BIGINT) AS coeff
      FROM l JOIN c cu ON cu.n = l.i JOIN c cv ON cv.n = l.j
      GROUP BY l.img, cu.k, cv.k
    ),
    med AS (
      SELECT img, coeff AS m
      FROM (SELECT img, coeff,
                   ROW_NUMBER() OVER (PARTITION BY img ORDER BY coeff)
                     AS rn
            FROM d)
      WHERE rn = 8
    ),
    bits AS (
      SELECT d.img, d.u * 4 + d.v AS k,
             CASE WHEN d.coeff > med.m THEN 1 ELSE 0 END AS bit
      FROM d JOIN med ON med.img = d.img
    )
    SELECT a.img AS img_a, b.img AS img_b,
           CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                AS BIGINT) AS hamming
    FROM bits a JOIN bits b ON b.k = a.k AND b.img > a.img
    GROUP BY a.img, b.img
    ORDER BY img_a, img_b
    """


@register(
    "image_phash_pairs",
    oracle=_PHASH_ORACLE,
    doc="Perceptual DCT hash (pHash) near-duplicate image pairs with the "
        "REAL PNG codec in the loop: the same 24 deterministic 16x16 "
        "images as image_ahash_pairs are encoded to actual PNG bytes and "
        "decoded back in mapInPandas; 2x2 block sums form an 8x8 "
        "integer image whose 2-D DCT-II is computed with a FROZEN "
        "integer basis (floor(cos * 2^14) literals shared verbatim by "
        "both engines — no transcendental ever runs cross-engine), and "
        "the 16 low-frequency coefficients hash to bits by the classic "
        "above-median rule (exact integer lower median). Complements "
        "aHash: pHash is frequency-domain, robust to global brightness "
        "shifts aHash is blind to. The oracle replays formula + DCT in "
        "SQL and never sees a PNG. Scale: codec + DCT run where the "
        "bytes sit; the pair join touches 16-bit sketches, never pixels",
)
def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    dct = list(_DCT_LITS)

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from gan_deeplearning4j_spark.functions.imagecodec import (
            decode_png,
            encode_png,
        )

        C = np.zeros((4, 8), dtype=np.int64)
        for k, n, w in dct:
            C[k, n] = w

        for pdf in batches:
            rows = []
            for img in pdf["id"]:
                img = int(img)
                px = np.empty((16, 16), dtype=np.uint8)
                for y in range(16):
                    for x in range(16):
                        h = hashlib.md5(
                            f"img|{img}|{y}|{x}".encode()
                        ).hexdigest()[:15]
                        px[y, x] = int(h, 16) % 256
                dec = decode_png(encode_png(px)).squeeze().astype(np.int64)
                blocks = dec.reshape(8, 2, 8, 2).sum(axis=(1, 3))
                D = C @ blocks @ C.T
                for u in range(4):
                    for v in range(4):
                        rows.append((img, u * 4 + v, int(D[u, v])))
            yield pd.DataFrame(rows, columns=["img", "k", "coeff"])

    d = spark.range(24).repartition(4).mapInPandas(
        gen, "img long, k long, coeff long"
    )
    w = Window.partitionBy("img").orderBy("coeff")
    med = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 8)
        .select("img", F.col("coeff").alias("m"))
    )
    bits = d.join(med, "img").select(
        "img", "k",
        F.when(F.col("coeff") > F.col("m"), 1).otherwise(0).alias("bit"),
    ).localCheckpoint()
    a = bits.select(F.col("img").alias("img_a"), "k",
                    F.col("bit").alias("bit_a"))
    b = bits.select(F.col("img").alias("img_b"),
                    F.col("k").alias("kb"), F.col("bit").alias("bit_b"))
    return (
        a.join(F.broadcast(b), (F.col("kb") == F.col("k"))
               & (F.col("img_b") > F.col("img_a")))
        .groupBy("img_a", "img_b")
        .agg(
            F.sum(
                F.when(F.col("bit_a") != F.col("bit_b"), 1).otherwise(0)
            ).cast("long").alias("hamming")
        )
        .orderBy("img_a", "img_b")
    )


# ---------------------------------------------------------------------------
# Token-bucket admission replay (rate-limiter semantics over event logs)
# ---------------------------------------------------------------------------

# bucket parameters in micro-tokens (capacity 5 tokens, cost 1 token per
# event, refill 1 token per 10 seconds = dt_us div 10 micro-tokens) —
# imported from the streaming limiter so the batch audit and the live
# state machine can never drift apart
from .streaming.stateful import (  # noqa: E402
    TB_CAP_MICRO as _TB_CAP,
    TB_COST_MICRO as _TB_COST,
)

# Oracle-side packing factor for the two-register list_reduce fold
# (DuckDB struct accumulators mis-evaluate; see the ses_forecast gotcha):
# st = tokens_left_micro * _TB_PACK + n_admitted. 2^40 keeps the product
# int64-safe (TB_CAP_MICRO * 2^40 = 5.5e18 < 2^63) while allowing up to
# ~1.1e12 admitted events per user before the registers would collide —
# a bound no per-user event log approaches (2^20 overflowed at 1M).
_TB_PACK = 1 << 40
if _TB_CAP * _TB_PACK >= (1 << 63) - _TB_PACK:
    raise RuntimeError("_TB_CAP * _TB_PACK overflows the int64 register pack")


@register(
    "token_bucket_admissions",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ), seq AS (
      -- per-user recursive-CTE fold, NOT list_reduce: DuckDB v1.0.0's
      -- vectorized list_reduce mis-folds rows in multi-row batches with
      -- varying list lengths (round-9 probe, SCALE.md)
      SELECT user_id,
             COALESCE(ts_us - LAG(ts_us) OVER w, 0) AS dt,
             ROW_NUMBER() OVER w AS rn
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM seq
      GROUP BY user_id
    ), walk AS (
      SELECT user_id, 0 AS it,
             CAST({_TB_CAP} AS BIGINT) * {_TB_PACK} + 0 AS st
      FROM cnt
      UNION ALL
      SELECT w.user_id, w.it + 1, CASE
               WHEN LEAST({_TB_CAP}, w.st // {_TB_PACK} + s.dt // 10)
                    >= {_TB_COST}
               THEN (LEAST({_TB_CAP}, w.st // {_TB_PACK} + s.dt // 10)
                     - {_TB_COST}) * {_TB_PACK} + w.st % {_TB_PACK} + 1
               ELSE LEAST({_TB_CAP}, w.st // {_TB_PACK} + s.dt // 10)
                    * {_TB_PACK} + w.st % {_TB_PACK}
             END
      FROM walk w JOIN seq s ON s.user_id = w.user_id
                            AND s.rn = w.it + 1
    )
    SELECT w.user_id, c.n_events,
           CAST(w.st % {_TB_PACK} AS BIGINT) AS n_admitted,
           CAST(c.n_events - w.st % {_TB_PACK} AS BIGINT) AS n_denied,
           CAST(w.st // {_TB_PACK} AS BIGINT) AS tokens_left_micro
    FROM walk w JOIN cnt c ON c.user_id = w.user_id AND w.it = c.n_events
    ORDER BY w.user_id
    """,
    doc="Token-bucket rate-limiter replay over the event log (the "
        "standard cell/leaky-bucket admission rule: capacity 5 tokens, "
        "1 token per event, refill 1 token / 10 s): per user, fold the "
        "inter-arrival gaps through the bucket in exact micro-token "
        "integers and report admitted/denied counts and the final level "
        "— the throttling audit an API platform replays over history to "
        "tune limits before enforcing them. The sequential fold runs "
        "ENGINE-SIDE (F.aggregate struct accumulator vs DuckDB "
        "list_reduce with tokens and admitted packed into one BIGINT, "
        "the struct-accumulator-quirk workaround). Scale: one user-keyed "
        "window pass for gaps + one fold per user over the collected gap "
        "array (bounded by per-user activity); no driver loop",
)
def q_token_bucket_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_nanos div 1000").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "user_id",
        F.coalesce(
            F.col("ts_us") - F.lag("ts_us").over(w), F.lit(0)
        ).alias("dt"),
        F.row_number().over(w).alias("rn"),
    )
    packed = seq.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr("transform(array_sort(collect_list(struct(rn, dt))), "
               "e -> e.dt)").alias("dts"),
    )
    fold = packed.select(
        "user_id", "n_events",
        F.expr(
            f"aggregate(dts, "
            f"struct(cast({_TB_CAP} as long) as t, cast(0 as long) as a), "
            f"(acc, dt) -> if("
            f"least({_TB_CAP}L, acc.t + dt div 10) >= {_TB_COST}, "
            f"struct(least({_TB_CAP}L, acc.t + dt div 10) - {_TB_COST} "
            f"as t, acc.a + 1 as a), "
            f"struct(least({_TB_CAP}L, acc.t + dt div 10) as t, "
            f"acc.a as a)))"
        ).alias("st"),
    )
    return fold.select(
        "user_id", "n_events",
        F.col("st.a").cast("long").alias("n_admitted"),
        (F.col("n_events") - F.col("st.a")).cast("long").alias("n_denied"),
        F.col("st.t").cast("long").alias("tokens_left_micro"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Network robustness under targeted hub removal
# ---------------------------------------------------------------------------

@register(
    "robustness_hub_removal",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT p1 AS u FROM pr UNION ALL SELECT p2 FROM pr) GROUP BY u
    ),
    hubs AS (SELECT u FROM deg ORDER BY d DESC, u LIMIT 8),
    ve AS (
      SELECT 'full' AS variant, p1, p2 FROM pr
      UNION ALL
      SELECT 'dehubbed', p1, p2 FROM pr
      WHERE p1 NOT IN (SELECT u FROM hubs)
        AND p2 NOT IN (SELECT u FROM hubs)
    ),
    und AS (
      SELECT variant, p1 AS a, p2 AS b FROM ve
      UNION SELECT variant, p2, p1 FROM ve
    ),
    reach AS (
      SELECT variant, a, b FROM und
      UNION
      SELECT r.variant, r.a, u.b FROM reach r JOIN und u
        ON u.variant = r.variant AND u.a = r.b
    ),
    lab AS (
      SELECT variant, a AS node, LEAST(a, MIN(b)) AS comp
      FROM reach GROUP BY variant, a
    ),
    comps AS (
      SELECT variant, comp, CAST(COUNT(*) AS BIGINT) AS sz
      FROM lab GROUP BY variant, comp
    )
    SELECT variant, CAST(SUM(sz) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MAX(sz) AS BIGINT) AS largest_component
    FROM comps GROUP BY variant ORDER BY variant
    """,
    doc="Network robustness under TARGETED attack (Albert, Jeong & "
        "Barabasi, Nature 2000): connected-component census of the "
        "co-purchase graph before and after removing the 8 highest-"
        "degree hubs — node count, component count, and giant-component "
        "size per variant quantify how much connectivity rides on the "
        "hub oligarchy that rich_club_coefficient measures statically. "
        "The Spark side runs the real O(log^2 n) star-contraction "
        "connected components (diameter-independent — the giant "
        "component's diameter is unknown a priori); the DuckDB oracle "
        "replays CC as a recursive transitive closure with min-label "
        "reduction. Scale: hub removal is a broadcast anti-join; CC "
        "shuffles the edge list per round, never the fact table",
)
def q_robustness_hub_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import connected_components
    from .operators.graph import co_purchase_pairs

    li = _t(spark, sf_dir, "lineitem")
    pr = co_purchase_pairs(li).localCheckpoint(eager=True)
    deg = (
        pr.select(F.col("p1").alias("u"))
        .unionByName(pr.select(F.col("p2").alias("u")))
        .groupBy("u").agg(F.count("*").alias("d"))
    )
    hubs = deg.orderBy(F.desc("d"), "u").limit(8).select("u") \
        .localCheckpoint(eager=True)
    dehubbed = (
        pr.join(hubs, pr.p1 == hubs.u, "left_anti")
        .join(hubs, F.col("p2") == hubs.u, "left_anti")
    )
    out = None
    for variant, edges in (("dehubbed", dehubbed), ("full", pr)):
        lab = connected_components(edges, "p1", "p2")
        comps = lab.groupBy("comp").agg(
            F.count("*").cast("long").alias("sz")
        )
        row = comps.agg(
            F.sum("sz").cast("long").alias("n_nodes"),
            F.count("*").cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("largest_component"),
        ).select(
            F.lit(variant).alias("variant"), "n_nodes", "n_components",
            "largest_component",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("variant")


# ===========================================================================
# Round-9 LIVE additions (written and registered during round 9; they join
# the never-green window alongside the 19 staged-then-flipped entries —
# window test pins the total <= 50)
# ===========================================================================


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank test across document sources
# ---------------------------------------------------------------------------

@register(
    "kruskal_wallis_sources",
    oracle="""
    WITH r AS (
      SELECT source,
             2 * RANK() OVER (ORDER BY n_chars)
               + COUNT(*) OVER (PARTITION BY n_chars) - 1 AS rank2
      FROM documents
    ), g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_j,
             CAST(SUM(rank2) AS BIGINT) AS r2_j
      FROM r GROUP BY source
    ), ties AS (  -- raw-row ranks here; Spark ranks the distinct-value
                  -- count table (mann_whitney_u pattern), equivalently
      SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS t3t
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM documents GROUP BY n_chars)
    ), tot AS (
      SELECT CAST(SUM(n_j) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(r2_j * r2_j // (4 * n_j)) AS BIGINT) AS s
      FROM g
    )
    SELECT n AS n_total, n_groups, s AS sum_rank_sq_over_n, t3t AS tie_cube_sum,
           CAST(floor((12.0 * s / (n * (n + 1.0)) - 3.0 * (n + 1))
                      * 1000000) AS BIGINT) AS h_e6,
           CAST(floor((12.0 * s / (n * (n + 1.0)) - 3.0 * (n + 1))
                      * (CAST(n AS DOUBLE) * n * n - n)
                      / (CAST(n AS DOUBLE) * n * n - n - t3t)
                      * 1000000) AS BIGINT) AS h_tie_e6
    FROM tot, ties
    """,
    doc="Kruskal-Wallis H test (rank-based one-way ANOVA, Kruskal & "
        "Wallis JASA 1952) of document length across sources — the "
        "k-group extension of mann_whitney_u and the nonparametric twin "
        "of anova-style comparisons: average ranks carried as exact "
        "half-unit integers (rank2 = 2*minrank + tiecount - 1), per-group "
        "R_j^2/n_j as truncating integer division (engine-invariant), "
        "then ONE double expression from the integer moments for H and "
        "its tie-corrected form (the Spearman/Welch discipline: int "
        "moment sums exactly, transcendental-free float only at the "
        "end). int64 headroom: sum R_j^2/n_j ~ N^3/4 stays in-range "
        "through sf0.1; re-derive scales before SF >= 1. Scale: rank "
        "math runs on the value-DISTINCT histogram (mann_whitney_u "
        "pattern) — one (value, source) rollup + a bounded cumulative "
        "window over the value domain; the fact table is never globally "
        "sorted",
)
def q_kruskal_wallis_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    docs = _t(spark, sf_dir, "documents")
    # rank math on the value-DISTINCT count table, not raw rows (the
    # mann_whitney_u discipline): the doubled midrank of every element at
    # value v is 2*cum_before + t + 1, so ranks never need a global sort
    # of the fact table — only of the bounded value-domain histogram
    per_vs = docs.groupBy("n_chars", "source").agg(
        F.count("*").cast("long").alias("c")
    )
    per_v = per_vs.groupBy("n_chars").agg(
        F.sum("c").cast("long").alias("t")
    )
    wc = bounded_window("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_v.select(
        "n_chars", "t",
        (F.sum("t").over(wc) - F.col("t")).alias("before"),
    )
    g = per_vs.join(cum, "n_chars").groupBy("source").agg(
        F.sum("c").cast("long").alias("n_j"),
        F.sum(F.col("c") * (2 * F.col("before") + F.col("t") + 1))
        .cast("long").alias("r2_j"),
    )
    ties = per_v.agg(
        F.sum(F.expr("t * t * t - t")).cast("long").alias("t3t")
    )
    tot = g.agg(
        F.sum("n_j").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.expr("r2_j * r2_j div (4 * n_j)")).cast("long").alias("s"),
    )
    h = ("12.0 * s / (n * (n + 1.0)) - 3.0 * (n + 1)")
    return tot.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_total"), "n_groups",
        F.col("s").alias("sum_rank_sq_over_n"),
        F.col("t3t").alias("tie_cube_sum"),
        F.expr(f"cast(floor(({h}) * 1000000) as long)").alias("h_e6"),
        F.expr(
            f"cast(floor(({h}) * (cast(n as double) * n * n - n)"
            " / (cast(n as double) * n * n - n - t3t) * 1000000) as long)"
        ).alias("h_tie_e6"),
    )


# ---------------------------------------------------------------------------
# Brier score decomposition (Murphy 1973) of a purchase-propensity forecast
# ---------------------------------------------------------------------------

@register(
    "brier_decomposition",
    oracle="""
    WITH half AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT)
               AS n_even,
             CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0
                                     AND event_type = 'purchase') AS BIGINT)
               AS p_even,
             CAST(COUNT(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT)
               AS n_odd,
             CAST(COUNT(*) FILTER (WHERE event_id % 2 = 1
                                     AND event_type = 'purchase') AS BIGINT)
               AS p_odd
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT LEAST(1000 * p_even // n_even // 100, 9) AS bin,
             n_odd, p_odd
      FROM half WHERE n_even > 0 AND n_odd > 0
    ), bins AS (
      SELECT bin, CAST(SUM(n_odd) AS BIGINT) AS n_k,
             CAST(SUM(p_odd) AS BIGINT) AS x_k
      FROM scored GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n_k) AS BIGINT) AS n, CAST(SUM(x_k) AS BIGINT) AS x
      FROM bins
    )
    SELECT bin, CAST(bin * 100 + 50 AS BIGINT) AS f_permille, n_k, x_k,
           CAST(((bin * 100 + 50) * n_k - 1000 * x_k)
                * ((bin * 100 + 50) * n_k - 1000 * x_k) // n_k AS BIGINT)
             AS rel_term,
           CAST(((n * x_k - x * n_k) // 1000)
                * ((n * x_k - x * n_k) // 1000) // n_k AS BIGINT)
             AS res_term
    FROM bins, tot ORDER BY bin
    """,
    doc="Brier score decomposition (Murphy JAM 1973: reliability minus "
        "resolution plus uncertainty) of a per-user purchase-propensity "
        "forecast: forecast = purchase share over the user's even "
        "event_ids binned to 10 midpoint-permille cells, outcomes = the "
        "odd-id events. Per bin, the reliability term (f_k*n_k - "
        "1000*x_k)^2/n_k and resolution term ((N*x_k - X*n_k)/1000)^2/"
        "n_k are emitted as exact truncating-integer values (permille "
        "scale keeps the squares inside int64 at every certified SF) — "
        "the calibration diagnostic ece_calibration_bins summarizes, "
        "decomposed into its additive parts. Scale: one user-keyed "
        "aggregate + one 10-row bin rollup; no window, no join",
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    half = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_id") % 2 == 0).cast("long").alias("n_even"),
        F.count_if((F.col("event_id") % 2 == 0)
                   & (F.col("event_type") == "purchase"))
        .cast("long").alias("p_even"),
        F.count_if(F.col("event_id") % 2 == 1).cast("long").alias("n_odd"),
        F.count_if((F.col("event_id") % 2 == 1)
                   & (F.col("event_type") == "purchase"))
        .cast("long").alias("p_odd"),
    )
    scored = half.filter((F.col("n_even") > 0) & (F.col("n_odd") > 0)).select(
        F.least(F.expr("1000 * p_even div n_even div 100"), F.lit(9))
        .cast("long").alias("bin"),
        "n_odd", "p_odd",
    )
    bins = scored.groupBy("bin").agg(
        F.sum("n_odd").cast("long").alias("n_k"),
        F.sum("p_odd").cast("long").alias("x_k"),
    )
    tot = bins.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("x_k").cast("long").alias("x"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        (F.col("bin") * 100 + 50).cast("long").alias("f_permille"),
        "n_k", "x_k",
        F.expr(
            "((bin * 100 + 50) * n_k - 1000 * x_k)"
            " * ((bin * 100 + 50) * n_k - 1000 * x_k) div n_k"
        ).cast("long").alias("rel_term"),
        F.expr(
            "((n * x_k - x * n_k) div 1000)"
            " * ((n * x_k - x * n_k) div 1000) div n_k"
        ).cast("long").alias("res_term"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau whiteness test on the daily order-count series
# ---------------------------------------------------------------------------

@register(
    "ljung_box_whiteness",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY day
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM daily
    ), dev AS (
      SELECT day, c - (SELECT s // n FROM tot) AS d FROM daily
    ), g0 AS (
      SELECT CAST(SUM(d * d) AS BIGINT) AS g0 FROM dev
    ), lags AS (
      SELECT k.lag AS lag,
             CAST(SUM(a.d * b.d) AS BIGINT) AS gamma_k,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM (SELECT unnest(range(1, 8)) AS lag) k
      JOIN dev a ON TRUE
      JOIN dev b ON b.day = a.day + k.lag
      GROUP BY k.lag
    ), acf AS (
      SELECT lag, gamma_k, n_pairs,
             gamma_k * 1000000 // (SELECT g0 FROM g0) AS acf_e6
      FROM lags
    )
    SELECT lag, gamma_k, acf_e6,
           CAST((SELECT n FROM tot) * ((SELECT n FROM tot) + 2)
                * SUM(acf_e6 * acf_e6 // ((SELECT n FROM tot) - lag))
                  OVER (ORDER BY lag) // 1000000 AS BIGINT) AS q_e6
    FROM acf ORDER BY lag
    """,
    doc="Ljung-Box portmanteau whiteness test (Ljung & Box Biometrika "
        "1978) on the daily order-count series, lags 1..7: deviations "
        "from the TRUNCATED integer mean (a deterministic constant "
        "shift, identical in both engines, so autocovariances stay pure "
        "int64), gamma_k as exact integer products over day/day+k pairs, "
        "acf in ppm by integer division, and the running Q statistic "
        "N(N+2)*sum(r_k^2/(N-k)) accumulated entirely in int64 (each "
        "r_k^2/(N-k) term is a truncating division, the window sum is "
        "ordered by lag). Extends autocorr_lag1_daily from one "
        "coefficient to the joint whiteness statistic that decides "
        "whether a forecaster is leaving structure on the table. Scale: "
        "one day rollup + 7 self-joins on day arithmetic (a 7-way "
        "range-free equi-join on a series-sized table)",
)
def q_ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        epoch_day("o_orderdate").cast("long").alias("day")
    ).groupBy("day").agg(F.count("*").cast("long").alias("c"))
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("c") - F.expr("s div n")).alias("d"), "n",
    ).localCheckpoint(eager=True)
    g0 = dev.agg(F.sum(F.expr("d * d")).cast("long").alias("g0"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = dev.select(F.col("day").alias("day_a"), F.col("d").alias("da"), "n")
    b = dev.select(F.col("day").alias("day_b"), F.col("d").alias("db"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.col("day_a") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.expr("da * db")).cast("long").alias("gamma_k"),
            F.max("n").alias("n"),
        )
    )
    from .functions.windows import bounded_window

    acf = pairs.crossJoin(F.broadcast(g0)).select(
        "lag", "gamma_k", "n",
        F.expr("gamma_k * 1000000 div g0").cast("long").alias("acf_e6"),
    )
    w = bounded_window("lag")  # 7 rows by construction
    return acf.select(
        "lag", "gamma_k", "acf_e6",
        (
            F.col("n") * (F.col("n") + 2)
            * F.sum(F.expr("acf_e6 * acf_e6 div (n - lag)")).over(w)
        ).cast("long").alias("q_pre"),
    ).select(
        "lag", "gamma_k", "acf_e6",
        F.expr("q_pre div 1000000").cast("long").alias("q_e6"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Decision-stump split selection by exact weighted Gini impurity
# ---------------------------------------------------------------------------

@register(
    "decision_stump_split",
    oracle="""
    WITH li AS (
      SELECT l_quantity AS qty,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_c,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ), cand AS (
      SELECT * FROM (VALUES
        ('quantity', 10), ('quantity', 20), ('quantity', 30),
        ('quantity', 40), ('discount_c', 2), ('discount_c', 4),
        ('discount_c', 6), ('discount_c', 8), ('tax_c', 2),
        ('tax_c', 4), ('tax_c', 6)) t(feature, thr)
    ), split AS (
      SELECT feature, CAST(thr AS BIGINT) AS thr,
             CAST(COUNT(*) FILTER (WHERE CASE feature
                 WHEN 'quantity' THEN qty <= thr
                 WHEN 'discount_c' THEN disc_c <= thr
                 ELSE tax_c <= thr END) AS BIGINT) AS n_l,
             CAST(COUNT(*) FILTER (WHERE (CASE feature
                 WHEN 'quantity' THEN qty <= thr
                 WHEN 'discount_c' THEN disc_c <= thr
                 ELSE tax_c <= thr END) AND y = 1) AS BIGINT) AS p_l,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS p
      FROM li, cand GROUP BY feature, thr
    )
    SELECT feature, thr, n_l, p_l,
           CAST(((CASE WHEN n_l = 0 THEN 0
                       ELSE 2 * p_l * (n_l - p_l) * 1000000 // n_l END)
                 + (CASE WHEN n = n_l THEN 0
                         ELSE 2 * (p - p_l) * ((n - n_l) - (p - p_l))
                              * 1000000 // (n - n_l) END)) // n AS BIGINT)
             AS gini_e6
    FROM split ORDER BY gini_e6, feature, thr
    """,
    doc="Decision-stump induction by exact weighted Gini impurity "
        "(CART's split criterion, Breiman et al. 1984): 11 literal "
        "candidate thresholds over three lineitem features scored "
        "against the returnflag='R' label in one scan — per side "
        "2*p*(n-p)/n at e6 scale as truncating integer division, "
        "weighted by side mass. The argmin row is the stump a boosting "
        "round would pick; emitting all candidates ordered by impurity "
        "keeps the whole search hash-checkable, not just the winner. "
        "Scale: candidates broadcast (fixed 11-row literal relation), "
        "one map-side-combinable aggregate keyed on (feature, thr) — no "
        "per-candidate rescan",
)
def q_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("qty"),
        cents_nonneg(F.col("l_discount")).alias("disc_c"),
        cents_nonneg(F.col("l_tax")).alias("tax_c"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cand = spark.createDataFrame(
        [("quantity", 10), ("quantity", 20), ("quantity", 30),
         ("quantity", 40), ("discount_c", 2), ("discount_c", 4),
         ("discount_c", 6), ("discount_c", 8), ("tax_c", 2),
         ("tax_c", 4), ("tax_c", 6)],
        "feature string, thr long",
    )
    left = ("case feature when 'quantity' then qty <= thr "
            "when 'discount_c' then disc_c <= thr "
            "else tax_c <= thr end")
    split = li.crossJoin(F.broadcast(cand)).groupBy("feature", "thr").agg(
        F.count_if(F.expr(left)).cast("long").alias("n_l"),
        F.count_if(F.expr(f"({left}) and y = 1")).cast("long").alias("p_l"),
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    return split.select(
        "feature", "thr", "n_l", "p_l",
        F.expr(
            "((case when n_l = 0 then 0"
            " else 2 * p_l * (n_l - p_l) * 1000000 div n_l end)"
            " + (case when n = n_l then 0"
            " else 2 * (p - p_l) * ((n - n_l) - (p - p_l))"
            " * 1000000 div (n - n_l) end)) div n"
        ).cast("long").alias("gini_e6"),
    ).orderBy("gini_e6", "feature", "thr")


# ---------------------------------------------------------------------------
# Theil inequality index with within/between-nation decomposition
# ---------------------------------------------------------------------------

@register(
    "theil_inequality_decomposition",
    oracle="""
    WITH cust AS (
      SELECT c.c_nationkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) // 100 AS x_d
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ), g AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(x_d) AS BIGINT) AS s_g,
             CAST(SUM(x_d * CAST(floor(ln(CAST(x_d AS DOUBLE)) * 1000000)
                                 AS BIGINT)) AS BIGINT) AS w_g
      FROM cust WHERE x_d > 0 GROUP BY c_nationkey
    ), tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS s
      FROM g
    )
    SELECT n.n_name, g.n_g, g.s_g AS s_dollars,
           CAST(w_g // s_g
                - floor(ln(CAST(s_g AS DOUBLE)) * 1000000)
                + floor(ln(CAST(n_g AS DOUBLE)) * 1000000) AS BIGINT)
             AS theil_within_e6,
           CAST(s_g * (CAST(floor(ln(CAST(s_g AS DOUBLE)) * 1000000)
                            AS BIGINT)
                       - CAST(floor(ln(CAST(t.s AS DOUBLE)) * 1000000)
                              AS BIGINT)
                       - CAST(floor(ln(CAST(n_g AS DOUBLE)) * 1000000)
                              AS BIGINT)
                       + CAST(floor(ln(CAST(t.n AS DOUBLE)) * 1000000)
                              AS BIGINT)) // t.s AS BIGINT)
             AS between_term_e6
    FROM g JOIN nation n ON n.n_nationkey = g.c_nationkey, tot t
    ORDER BY n.n_name
    """,
    doc="Theil T inequality index of per-customer revenue, decomposed "
        "into within-nation and between-nation components (Theil 1967; "
        "the decomposable-entropy property Gini lacks — "
        "gini_revenue_by_nation measures inequality but cannot attribute "
        "it): per nation, T_within = sum(x ln x)/s - ln s + ln n and the "
        "between-group share term s_g*(ln s_g - ln S - ln n_g + ln N)/S, "
        "every ln floored to integer micro-nats BEFORE the sums (the "
        "event_type_entropy discipline) so all aggregates are order-free "
        "int64; revenue carried in whole dollars to keep x*ln(x) inside "
        "int64 headroom through sf0.1. Scale: one customer-keyed rollup, "
        "one nation rollup, broadcast nation dim + 1-row total",
)
def q_theil_inequality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cust = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.expr(
                "sum(cast(round(o_totalprice * 100) as long)) div 100"
            ).alias("x_d")
        )
    )
    ln_e6 = "cast(floor(ln(cast({0} as double)) * 1000000) as long)"
    g = cust.filter(F.col("x_d") > 0).groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("x_d").cast("long").alias("s_g"),
        F.sum(F.expr(f"x_d * {ln_e6.format('x_d')}"))
        .cast("long").alias("w_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    return (
        g.join(F.broadcast(nation),
               g.c_nationkey == F.col("n_nationkey"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_name", "n_g", F.col("s_g").alias("s_dollars"),
            F.expr(
                f"w_g div s_g - {ln_e6.format('s_g')}"
                f" + {ln_e6.format('n_g')}"
            ).cast("long").alias("theil_within_e6"),
            F.expr(
                f"s_g * ({ln_e6.format('s_g')} - {ln_e6.format('s')}"
                f" - {ln_e6.format('n_g')} + {ln_e6.format('n')}) div s"
            ).cast("long").alias("between_term_e6"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Little's law accounting audit over sessionized events (L = lambda * W)
# ---------------------------------------------------------------------------

@register(
    "littles_law_audit",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ), marked AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
                    OR LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, ts_us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), spans AS (
      SELECT user_id, sid, MIN(ts_us) AS st, MAX(ts_us) AS en
      FROM sess GROUP BY user_id, sid
    ), started AS (
      SELECT st // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n_started,
             CAST(SUM(en - st) AS BIGINT) AS sum_duration_us
      FROM spans GROUP BY day
    ), overlap AS (
      SELECT d.day AS day,
             CAST(SUM(LEAST(en, (d.day + 1) * 86400000000)
                      - GREATEST(st, d.day * 86400000000)) AS BIGINT)
               AS sum_overlap_us
      FROM spans, unnest(range(st // 86400000000,
                               en // 86400000000 + 1)) AS d(day)
      GROUP BY d.day
    )
    SELECT s.day, s.n_started, s.sum_duration_us,
           COALESCE(o.sum_overlap_us, 0) AS sum_overlap_us,
           CASE WHEN s.sum_duration_us = 0 THEN NULL
                ELSE COALESCE(o.sum_overlap_us, 0) * 1000000
                     // s.sum_duration_us END AS little_ratio_ppm
    FROM started s LEFT JOIN overlap o ON o.day = s.day
    ORDER BY s.day
    """,
    doc="Little's law accounting audit (L = lambda W, Little 1961) over "
        "30-minute-gap sessions: per day, sessions started (arrivals), "
        "their total duration (lambda*W*T in microseconds), and the "
        "day-clipped occupancy integral (L*T — each session's overlap "
        "with each day it spans, via a bounded day-range explode). The "
        "ratio of the two sides in ppm is the boundary-effect audit a "
        "capacity planner checks before trusting a concurrency forecast "
        "built from arrival rates. All interval arithmetic in exact "
        "int64 microseconds. Scale: the sessionize window is the "
        "standard user-keyed sort; the day explode is bounded by session "
        "span (sessions are minutes long); two day-keyed rollups + one "
        "day-keyed join",
)
def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_nanos div 1000").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.select(
        "user_id", "ts_us", "event_id",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000)
            | F.lag("ts_us").over(w).isNull(), 1
        ).otherwise(0).alias("brk"),
    )
    # (ts_us, event_id) ordering everywhere: a ROWS frame over a
    # non-unique ordering would make session assignment nondeterministic
    # on per-user timestamp ties (round-9 self-review finding)
    sess = marked.select(
        "user_id", "ts_us",
        F.sum("brk").over(
            Window.partitionBy("user_id").orderBy("ts_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("sid"),
    )
    spans = sess.groupBy("user_id", "sid").agg(
        F.min("ts_us").alias("st"), F.max("ts_us").alias("en")
    ).localCheckpoint(eager=True)
    day_us = 86_400_000_000
    started = spans.groupBy(
        F.expr(f"st div {day_us}").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_started"),
        F.sum(F.col("en") - F.col("st")).cast("long")
        .alias("sum_duration_us"),
    )
    overlap = spans.select(
        F.explode(
            F.expr(f"sequence(st div {day_us}, en div {day_us})")
        ).alias("day"),
        "st", "en",
    ).groupBy("day").agg(
        F.sum(
            F.least(F.col("en"), (F.col("day") + 1) * day_us)
            - F.greatest(F.col("st"), F.col("day") * day_us)
        ).cast("long").alias("sum_overlap_us")
    )
    return (
        started.join(overlap, "day", "left")
        .select(
            "day", "n_started", "sum_duration_us",
            F.coalesce("sum_overlap_us", F.lit(0)).cast("long")
            .alias("sum_overlap_us"),
            F.when(
                F.col("sum_duration_us") == 0, F.lit(None).cast("long")
            ).otherwise(
                F.expr(
                    "coalesce(sum_overlap_us, 0) * 1000000"
                    " div sum_duration_us"
                )
            ).cast("long").alias("little_ratio_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Integer-table DFT power at fixed periods (weekly/monthly seasonality)
# ---------------------------------------------------------------------------

# cos/sin at e3 scale, precomputed AT AUTHOR TIME and inlined as literals
# in BOTH engines, so no transcendental is evaluated at query time at all
_DFT_TABLES = {
    7: ([1000, 623, -223, -901, -901, -223, 623],
        [0, 781, 974, 433, -434, -975, -782]),
    30: ([1000, 978, 913, 809, 669, 500, 309, 104, -105, -310, -500,
          -670, -810, -914, -979, -1000, -979, -914, -810, -670, -501,
          -310, -105, 104, 309, 500, 669, 809, 913, 978],
         [0, 207, 406, 587, 743, 866, 951, 994, 994, 951, 866, 743,
          587, 406, 207, 0, -208, -407, -588, -744, -867, -952, -995,
          -995, -952, -867, -744, -588, -407, -208]),
}


def _dft_oracle() -> str:
    parts = []
    for p, (ct, st) in _DFT_TABLES.items():
        parts.append(f"""
      SELECT CAST({p} AS BIGINT) AS period,
             CAST(SUM(d * ({ct}::BIGINT[])[(day % {p}) + 1]) AS BIGINT)
               AS x_milli,
             CAST(SUM(d * ({st}::BIGINT[])[(day % {p}) + 1]) AS BIGINT)
               AS y_milli
      FROM dev""")
    sel = " UNION ALL ".join(parts)
    return f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS c
      FROM orders GROUP BY day
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM daily
    ), dev AS (
      SELECT day, c - (SELECT s // n FROM tot) AS d FROM daily
    ), bins AS ({sel})
    SELECT period, x_milli, y_milli,
           CAST(floor((CAST(x_milli AS DOUBLE) * x_milli
                       + CAST(y_milli AS DOUBLE) * y_milli) / 1e18)
                AS BIGINT) AS power_est
    FROM bins ORDER BY period
    """


@register(
    "dft_power_topfreq",
    oracle=_dft_oracle(),
    doc="Single-bin integer DFT (Goertzel-style direct correlation) of "
        "the daily revenue series at the weekly (7) and monthly (30) "
        "periods: cos/sin tables quantized to e3 at AUTHOR time and "
        "inlined as literals in both engines — no transcendental is "
        "evaluated at query time, so X = sum(d_i cos) / Y = sum(d_i "
        "sin) are pure order-free int64 sums over mean-centred daily "
        "cents (truncated integer mean, the ljung_box discipline). The "
        "frequency-domain seasonality detector that haar_wavelet_energy "
        "(scale domain) and seasonality_profile (calendar domain) "
        "cannot express. Scale: one day rollup + one array-literal "
        "lookup per row; the two bins share the scan",
)
def q_dft_power_topfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        epoch_day("o_orderdate").cast("long").alias("day"),
        F.expr("cast(round(o_totalprice * 100) as long)").alias("cents"),
    ).groupBy("day").agg(F.sum("cents").cast("long").alias("c"))
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("c") - F.expr("s div n")).alias("d")
    ).localCheckpoint(eager=True)  # two period bins consume it
    out = None
    for p, (ct, st) in _DFT_TABLES.items():
        ca = "array(" + ",".join(f"{v}L" for v in ct) + ")"
        sa = "array(" + ",".join(f"{v}L" for v in st) + ")"
        row = dev.agg(
            F.sum(
                F.expr(f"d * element_at({ca}, cast(day % {p} as int) + 1)")
            ).cast("long").alias("x_milli"),
            F.sum(
                F.expr(f"d * element_at({sa}, cast(day % {p} as int) + 1)")
            ).cast("long").alias("y_milli"),
        ).select(F.lit(p).cast("long").alias("period"), "x_milli", "y_milli")
        out = row if out is None else out.unionByName(row)
    return out.select(
        "period", "x_milli", "y_milli",
        F.expr(
            "cast(floor((cast(x_milli as double) * x_milli"
            " + cast(y_milli as double) * y_milli) / 1e18) as long)"
        ).alias("power_est"),
    ).orderBy("period")


# ---------------------------------------------------------------------------
# LZ78 phrase complexity (compression-proxy text quality signal)
# ---------------------------------------------------------------------------

@register(
    "lz78_phrase_complexity",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '),
                         t -> regexp_matches(t, '^[a-z]+$'))[1:120] AS ts
      FROM documents
    ), lists AS (
      SELECT doc_id, source, ts, CAST(len(ts) AS BIGINT) AS n
      FROM toks WHERE len(ts) > 0
    ), walk AS (
      -- per-doc recursive-CTE fold, NOT list_reduce: DuckDB v1.0.0's
      -- vectorized list_reduce mis-folds rows in multi-row batches with
      -- varying list lengths (round-9 probe, SCALE.md). The candidate
      -- phrase is inlined 4x (no lambda let-binding available here).
      SELECT doc_id, 0 AS it, '' AS dict, '' AS cur FROM lists
      UNION ALL
      SELECT w.doc_id, w.it + 1,
             CASE WHEN strpos('|' || w.dict || '|',
                    '|' || (CASE WHEN w.cur = '' THEN l.ts[w.it + 1]
                            ELSE w.cur || ' ' || l.ts[w.it + 1] END)
                    || '|') > 0
                  THEN w.dict
                  WHEN w.dict = ''
                  THEN (CASE WHEN w.cur = '' THEN l.ts[w.it + 1]
                        ELSE w.cur || ' ' || l.ts[w.it + 1] END)
                  ELSE w.dict || '|'
                       || (CASE WHEN w.cur = '' THEN l.ts[w.it + 1]
                           ELSE w.cur || ' ' || l.ts[w.it + 1] END)
             END,
             CASE WHEN strpos('|' || w.dict || '|',
                    '|' || (CASE WHEN w.cur = '' THEN l.ts[w.it + 1]
                            ELSE w.cur || ' ' || l.ts[w.it + 1] END)
                    || '|') > 0
                  THEN (CASE WHEN w.cur = '' THEN l.ts[w.it + 1]
                        ELSE w.cur || ' ' || l.ts[w.it + 1] END)
                  ELSE ''
             END
      FROM walk w JOIN lists l ON l.doc_id = w.doc_id
      WHERE w.it < l.n
    ), per_doc AS (
      SELECT l.source, l.n AS n_tok,
             CAST(CASE WHEN w.dict = '' THEN 0
                  ELSE len(string_split(w.dict, '|')) END
                  + CASE WHEN w.cur <> '' THEN 1 ELSE 0 END AS BIGINT)
               AS n_phrases
      FROM walk w JOIN lists l ON l.doc_id = w.doc_id AND w.it = l.n
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_phrases) AS BIGINT) AS sum_phrases,
           CAST(SUM(n_phrases) * 100 // SUM(n_tok) AS BIGINT)
             AS phrases_per_100tok
    FROM per_doc GROUP BY source ORDER BY source
    """,
    doc="Word-level LZ78 phrase complexity (Ziv & Lempel IT-24 1978) as "
        "a compression-proxy quality signal: repetitive/templated text "
        "parses into few long phrases, diverse text into ~1 phrase per "
        "token — the dictionary-growth view of redundancy that "
        "doc_repetition_stats (fixed n-gram reuse) approximates. The "
        "greedy parse folds each doc's first 120 lowercase tokens "
        "through a (dictionary, current-phrase) state ENGINE-SIDE: "
        "Spark an F.aggregate struct accumulator, DuckDB a per-doc "
        "recursive CTE over ('|'-packed dict, cur) columns — NOT "
        "list_reduce, whose v1.0.0 multi-row mis-fold this round "
        "documented (phrases contain spaces, never '|', by the "
        "[a-z]+ token filter). Scale: "
        "embarrassingly parallel per doc, bounded at 120 tokens; one "
        "source rollup",
)
def q_lz78_phrase_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.expr(
            "slice(filter(split(text, ' '),"
            " t -> t rlike '^[a-z]+$'), 1, 120)"
        ).alias("ts"),
    ).filter(F.size("ts") > 0)
    folded = toks.select(
        "source", F.size("ts").cast("long").alias("n_tok"),
        F.expr(
            "aggregate(ts,"
            " named_struct('dict', cast(array() as array<string>),"
            "              'cur', ''),"
            " (a, t) -> case"
            "   when array_contains(a.dict,"
            "        if(a.cur = '', t, concat(a.cur, ' ', t)))"
            "   then named_struct('dict', a.dict,"
            "        'cur', if(a.cur = '', t, concat(a.cur, ' ', t)))"
            "   else named_struct('dict', array_append(a.dict,"
            "        if(a.cur = '', t, concat(a.cur, ' ', t))),"
            "        'cur', '') end)"
        ).alias("st"),
    )
    per_doc = folded.select(
        "source", "n_tok",
        (F.size("st.dict")
         + F.when(F.col("st.cur") != "", 1).otherwise(0))
        .cast("long").alias("n_phrases"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.sum("n_phrases").cast("long").alias("sum_phrases"),
        F.expr("sum(n_phrases) * 100 div sum(n_tok)")
        .cast("long").alias("phrases_per_100tok"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Personalized PageRank from the co-purchase hub (related-items ranking)
# ---------------------------------------------------------------------------

def _ppr_oracle(iters: int = 3, k: int = 20) -> str:
    """Chained-CTE unroll of the personalized-PageRank iterations over
    the >=2-common-orders co-purchase graph (the _pagerank_oracle
    pattern with seed-only restart mass)."""
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(f"""
    r{i} AS (
      SELECT u.d AS node,
             CASE WHEN u.d = (SELECT node FROM seed) THEN 150000
                  ELSE 0 END
             + (85 * SUM({prev}.rank // deg.deg)) // 100 AS rank
      FROM und u
      JOIN {prev} ON {prev}.node = u.s
      JOIN deg ON deg.s = u.s
      GROUP BY u.d
    )""")
        prev = f"r{i}"
    chain = "," + ",".join(steps)
    return f"""
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
    deg AS (SELECT s, COUNT(*) AS deg FROM und GROUP BY s),
    seed AS (
      SELECT s AS node FROM deg ORDER BY deg DESC, s LIMIT 1
    ),
    r0 AS (
      SELECT DISTINCT s AS node,
             CAST(CASE WHEN s = (SELECT node FROM seed)
                       THEN 1000000 ELSE 0 END AS BIGINT) AS rank
      FROM und
    ){chain}
    SELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}
    ORDER BY rank DESC, node LIMIT {k}
    """


@register(
    "ppr_copurchase_topk",
    oracle=_ppr_oracle(),
    doc="Personalized PageRank (Haveliwala WWW'02) from the co-purchase "
        "hub part: restart mass lands only on the max-degree seed, so "
        "the top-20 ranks are proximity-to-seed — the 'customers who "
        "bought this also bought' ranking that global pagerank_fixed_"
        "topk cannot express (its scores measure overall importance). "
        "Fixed-point int64 (ppm scale, damping 85/100, rank/deg floor "
        "div) via operators/graph.ppr_fixed; the DuckDB chained-CTE "
        "replica replays all 3 iterations hash-for-hash, seed derived "
        "in-query (max degree, tie min id — no literal ships). Scale: "
        "identical shuffle shape to pagerank_fixed (degree folded into "
        "the edge list once, per-round join + agg, rank table "
        "checkpointed, conditional broadcast)",
)
def q_ppr_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, ppr_fixed

    pairs = co_purchase_pairs(_t(spark, sf_dir, "lineitem"))
    ranks = ppr_fixed(pairs, "p1", "p2", iters=3)
    return ranks.orderBy(F.desc("rank"), "node").limit(20)


# ---------------------------------------------------------------------------
# AMS tug-of-war F2 sketch vs the exact second frequency moment
# ---------------------------------------------------------------------------

@register(
    "f2_moment_ams",
    oracle="""
    WITH f AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), z AS (
      SELECT j.j,
             CAST(SUM(c * (2 * (CAST('0x' || substr(md5('ams|'
                    || CAST(j.j AS VARCHAR) || '|'
                    || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2)
                    - 1)) AS BIGINT) AS zj
      FROM f, (SELECT unnest(range(0, 16)) AS j) j
      GROUP BY j.j
    ), means AS (
      SELECT j // 4 AS grp,
             CAST(SUM(zj * zj) // 4 AS BIGINT) AS mean_g
      FROM z GROUP BY grp
    ), est AS (
      SELECT CAST((SUM(mean_g) - MIN(mean_g) - MAX(mean_g)) // 2
                  AS BIGINT) AS f2_est
      FROM means
    ), exact AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM f
    )
    SELECT f2_exact, f2_est,
           CAST(abs(f2_est - f2_exact) * 1000000 // f2_exact AS BIGINT)
             AS rel_err_ppm
    FROM exact, est
    """,
    doc="AMS tug-of-war F2 sketch (Alon, Matias & Szegedy STOC'96) of "
        "the per-user event-frequency vector vs the exact second moment "
        "Σf²: 16 estimators with md5-derived ±1 signs (the one hash both "
        "engines replay bit-identically), squared, then median-of-means "
        "(4 groups of 4; the median of 4 values is (sum-min-max)/2, an "
        "exact integer division) — the join-size/self-join-cardinality "
        "estimator CMS cannot provide (cms_join_cardinality bounds a "
        "two-table join; F2 IS the self-join size). Everything int64: "
        "Z_j ≤ total event count, Z_j² well inside headroom through "
        "sf0.1. Scale: one user rollup, one 16-way broadcast expansion, "
        "two tiny rollups — map-side-combinable throughout",
)
def q_f2_moment_ams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("c"))
    js = spark.range(16).select(F.col("id").alias("j"))
    sign = (
        "2 * (cast(conv(substr(md5(cast(concat('ams|', cast(j as string),"
        " '|', cast(user_id as string)) as binary)), 1, 15), 16, 10)"
        " as long) % 2) - 1"
    )
    z = f.crossJoin(F.broadcast(js)).groupBy("j").agg(
        F.sum(F.expr(f"c * ({sign})")).cast("long").alias("zj")
    )
    means = z.groupBy(F.expr("j div 4").alias("grp")).agg(
        F.expr("sum(zj * zj) div 4").cast("long").alias("mean_g")
    )
    est = means.agg(
        F.expr("(sum(mean_g) - min(mean_g) - max(mean_g)) div 2")
        .cast("long").alias("f2_est")
    )
    exact = f.agg(F.sum(F.expr("c * c")).cast("long").alias("f2_exact"))
    return exact.crossJoin(F.broadcast(est)).select(
        "f2_exact", "f2_est",
        F.expr("abs(f2_est - f2_exact) * 1000000 div f2_exact")
        .cast("long").alias("rel_err_ppm"),
    )


# ---------------------------------------------------------------------------
# Consistent-hash vs modulo resharding migration audit
# ---------------------------------------------------------------------------

@register(
    "consistent_hash_migration",
    oracle="""
    WITH keys AS (
      SELECT c_custkey AS k,
             CAST('0x' || substr(md5('key|' || CAST(c_custkey AS VARCHAR)),
                                 1, 15) AS BIGINT) AS pos
      FROM customer
    ), shards AS (
      SELECT i.i AS sid,
             CAST('0x' || substr(md5('shard|' || CAST(i.i AS VARCHAR)),
                                 1, 15) AS BIGINT) AS tok
      FROM (SELECT unnest(range(0, 9)) AS i) i
    ), assigned AS (
      SELECT k,
             arg_min(sid, CASE WHEN tok > pos THEN tok
                          ELSE tok + 1152921504606846976 END)
               FILTER (WHERE sid < 8) AS ring8,
             arg_min(sid, CASE WHEN tok > pos THEN tok
                          ELSE tok + 1152921504606846976 END) AS ring9,
             MIN(k % 8) AS mod8, MIN(k % 9) AS mod9
      FROM keys, shards GROUP BY k, pos
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT)
             AS moved_mod,
           CAST(SUM(CASE WHEN ring8 <> ring9 THEN 1 ELSE 0 END) AS BIGINT)
             AS moved_ring,
           CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS moved_mod_ppm,
           CAST(SUM(CASE WHEN ring8 <> ring9 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS moved_ring_ppm
    FROM assigned
    """,
    doc="Resharding migration audit: fraction of keys that move when a "
        "9th shard joins, modulo placement vs a consistent-hash ring "
        "(Karger et al. STOC'97) — the ops decision behind every "
        "shuffle-partition / kv-shard expansion (mod moves ~8/9 of all "
        "keys, the ring ~1/9). Ring positions and shard tokens are "
        "60-bit md5 integers (the oracle-replayable hash); successor "
        "lookup = arg_min over token-with-wraparound (tok <= pos gets "
        "+2^60). Exact counts + ppm rates. Scale: the shard relation is "
        "a 9-row broadcast literal; one key-keyed aggregate — no "
        "shuffle beyond the rollup",
)
def q_consistent_hash_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    h60 = ("cast(conv(substr(md5(cast({0} as binary)), 1, 15), 16, 10)"
           " as long)")
    keys = cust.select(
        F.col("c_custkey").alias("k"),
        F.expr(h60.format(
            "concat('key|', cast(c_custkey as string))"
        )).alias("pos"),
    )
    shards = spark.range(9).select(
        F.col("id").alias("sid"),
        F.expr(h60.format(
            "concat('shard|', cast(id as string))"
        )).alias("tok"),
    )
    wrap = "case when tok > pos then tok else tok + 1152921504606846976 end"
    assigned = keys.crossJoin(F.broadcast(shards)).groupBy("k", "pos").agg(
        F.expr(f"min_by(sid, {wrap}) filter (where sid < 8)")
        .alias("ring8"),
        F.expr(f"min_by(sid, {wrap})").alias("ring9"),
        F.expr("min(k % 8)").alias("mod8"),
        F.expr("min(k % 9)").alias("mod9"),
    )
    return assigned.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.count_if(F.expr("mod8 <> mod9")).cast("long").alias("moved_mod"),
        F.count_if(F.expr("ring8 <> ring9")).cast("long")
        .alias("moved_ring"),
    ).select(
        "n_keys", "moved_mod", "moved_ring",
        F.expr("moved_mod * 1000000 div n_keys").cast("long")
        .alias("moved_mod_ppm"),
        F.expr("moved_ring * 1000000 div n_keys").cast("long")
        .alias("moved_ring_ppm"),
    )


# ---------------------------------------------------------------------------
# Differential-privacy contribution-bounding audit
# ---------------------------------------------------------------------------

@register(
    "dp_contribution_bounds",
    oracle="""
    WITH contrib AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), hist AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM contrib GROUP BY c
    ), cum AS (
      SELECT c, t,
             SUM(t) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum_n,
             (SELECT SUM(t) FROM hist) AS n
      FROM hist
    ), p95 AS (
      SELECT MIN(c) AS p95_c FROM cum WHERE cum_n * 100 >= 95 * n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MAX(c) AS BIGINT) AS max_contribution,
           CAST((SELECT p95_c FROM p95) AS BIGINT) AS p95_contribution,
           CAST(SUM(CASE WHEN c > (SELECT p95_c FROM p95) THEN 1 ELSE 0
                    END) AS BIGINT) AS n_users_clipped,
           CAST(SUM(CASE WHEN c > (SELECT p95_c FROM p95)
                         THEN c - (SELECT p95_c FROM p95) ELSE 0
                    END) AS BIGINT) AS sum_excess_clipped,
           CAST((SELECT p95_c FROM p95) * 1000000 AS BIGINT)
             AS laplace_scale_e6
    FROM contrib
    """,
    doc="Differential-privacy contribution-bounding audit for a "
        "user-level count release: per-user total event contribution, "
        "its max (the unclamped L1 sensitivity), the exact "
        "95th-percentile clamp C (percentile_disc semantics via the "
        "bounded contribution histogram: min c with cum*100 >= 95*n), "
        "how many users the clamp truncates and the mass it discards, "
        "and the resulting Laplace noise scale C/epsilon at epsilon=1 "
        "(e6 units) — the pre-release worksheet every DP aggregation "
        "pipeline (k_anonymity_audit's quantitative sibling) fills in "
        "before calibrating noise. Scale: one user rollup + a bounded "
        "value-domain histogram window (mann_whitney discipline)",
)
def q_dp_contribution_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    ev = _t(spark, sf_dir, "events")
    contrib = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=True)
    hist = contrib.groupBy("c").agg(F.count("*").cast("long").alias("t"))
    wc = bounded_window("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "c", "t", F.sum("t").over(wc).alias("cum_n"),
        F.sum("t").over(bounded_window()).alias("n"),
    )
    p95 = cum.filter(F.expr("cum_n * 100 >= 95 * n")).agg(
        F.min("c").alias("p95_c")
    )
    return contrib.crossJoin(F.broadcast(p95)).agg(
        F.count("*").cast("long").alias("n_users"),
        F.max("c").cast("long").alias("max_contribution"),
        F.max("p95_c").cast("long").alias("p95_contribution"),
        F.count_if(F.expr("c > p95_c")).cast("long")
        .alias("n_users_clipped"),
        F.sum(F.expr("case when c > p95_c then c - p95_c else 0 end"))
        .cast("long").alias("sum_excess_clipped"),
        F.max(F.expr("p95_c * 1000000")).cast("long")
        .alias("laplace_scale_e6"),
    )


# ---------------------------------------------------------------------------
# WAV band energy via integer-table Goertzel correlation
# ---------------------------------------------------------------------------

# Goertzel bin tables: floor-free round at AUTHOR time, baked as
# literals so neither engine evaluates a transcendental at query
# time (shared by the Spark fn and the generated SQL oracle)
_GOERTZEL_BINS = {
    4: (
        [1000, 988, 951, 891, 809, 707, 588, 454, 309, 156, 0, -156, -309,
        -454, -588, -707, -809, -891, -951, -988, -1000, -988, -951, -891,
        -809, -707, -588, -454, -309, -156, 0, 156, 309, 454, 588, 707, 809,
        891, 951, 988, 1000, 988, 951, 891, 809, 707, 588, 454, 309, 156, 0,
        -156, -309, -454, -588, -707, -809, -891, -951, -988, -1000, -988,
        -951, -891, -809, -707, -588, -454, -309, -156, 0, 156, 309, 454, 588,
        707, 809, 891, 951, 988, 1000, 988, 951, 891, 809, 707, 588, 454, 309,
        156, 0, -156, -309, -454, -588, -707, -809, -891, -951, -988, -1000,
        -988, -951, -891, -809, -707, -588, -454, -309, -156, 0, 156, 309,
        454, 588, 707, 809, 891, 951, 988, 1000, 988, 951, 891, 809, 707, 588,
        454, 309, 156, 0, -156, -309, -454, -588, -707, -809, -891, -951,
        -988, -1000, -988, -951, -891, -809, -707, -588, -454, -309, -156, 0,
        156, 309, 454, 588, 707, 809, 891, 951, 988],
        [0, 156, 309, 454, 588, 707, 809, 891, 951, 988, 1000, 988, 951, 891,
        809, 707, 588, 454, 309, 156, 0, -156, -309, -454, -588, -707, -809,
        -891, -951, -988, -1000, -988, -951, -891, -809, -707, -588, -454,
        -309, -156, 0, 156, 309, 454, 588, 707, 809, 891, 951, 988, 1000, 988,
        951, 891, 809, 707, 588, 454, 309, 156, 0, -156, -309, -454, -588,
        -707, -809, -891, -951, -988, -1000, -988, -951, -891, -809, -707,
        -588, -454, -309, -156, 0, 156, 309, 454, 588, 707, 809, 891, 951,
        988, 1000, 988, 951, 891, 809, 707, 588, 454, 309, 156, 0, -156, -309,
        -454, -588, -707, -809, -891, -951, -988, -1000, -988, -951, -891,
        -809, -707, -588, -454, -309, -156, 0, 156, 309, 454, 588, 707, 809,
        891, 951, 988, 1000, 988, 951, 891, 809, 707, 588, 454, 309, 156, 0,
        -156, -309, -454, -588, -707, -809, -891, -951, -988, -1000, -988,
        -951, -891, -809, -707, -588, -454, -309, -156],
    ),
    20: (
        [1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000,
        -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0,
        -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707,
        1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000,
        -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0,
        -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707,
        1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000,
        -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0,
        -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707,
        1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000,
        -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0,
        -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707],
        [0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707,
        -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000,
        707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0,
        707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707,
        -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000,
        707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0,
        707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707,
        -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000,
        707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0,
        707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707,
        -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707, 0, 707, 1000,
        707, 0, -707, -1000, -707, 0, 707, 1000, 707, 0, -707, -1000, -707],
    ),
}


def _goertzel_oracle() -> str:
    parts = []
    for k, (ct, st) in _GOERTZEL_BINS.items():
        parts.append(f"""
      SELECT clip, CAST({k} AS BIGINT) AS bin_k,
             CAST(SUM(v * ({ct}::BIGINT[])[i + 1]) AS BIGINT) AS x_milli,
             CAST(SUM(v * ({st}::BIGINT[])[i + 1]) AS BIGINT) AS y_milli
      FROM s WHERE i < 160 GROUP BY clip""")
    sel = " UNION ALL ".join(parts)
    return f"""
    WITH c AS (
      SELECT unnest(range(0, 32)) AS clip
    ), ix AS (
      SELECT clip, unnest(range(0, 160)) AS i FROM c
    ), s AS (
      SELECT clip, i,
             CAST('0x' || substr(md5('wav|' || CAST(clip AS VARCHAR)
                                     || '|' || CAST(i AS VARCHAR)),
                                 1, 15) AS BIGINT) % 65536 - 32768 AS v
      FROM ix
    ), bins AS ({sel})
    SELECT clip, bin_k, x_milli, y_milli,
           CAST(floor((CAST(x_milli AS DOUBLE) * x_milli
                       + CAST(y_milli AS DOUBLE) * y_milli) / 1e12)
                AS BIGINT) AS power_est
    FROM bins ORDER BY clip, bin_k
    """


@register(
    "wav_goertzel_band_energy",
    oracle=_goertzel_oracle(),
    doc="Per-clip spectral band energy via integer-table Goertzel "
        "correlation (single-bin DFT, Goertzel 1958) at bins k=4 and "
        "k=20 of the first 160-sample frame: the same 32 deterministic "
        "PCM16 clips as wav_zcr_frames are encoded to real RIFF/WAVE "
        "bytes and decoded back by the clean-room wavcodec inside "
        "mapInPandas, then correlated against e3-quantized cos/sin "
        "tables baked as literals at author time — no transcendental at "
        "query time, X/Y pure int64 dot products (int64 numpy "
        "engine-side, array-literal lookups in the oracle, which "
        "replays the sample formula and never sees the bytes). The "
        "frequency-domain clip feature zcr (sign flips) and frame "
        "energy (total power) cannot express — the audio-fingerprint "
        "primitive. Scale: decode runs where the binary sits; one "
        "160-element dot per clip per bin",
)
def q_wav_goertzel_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401

    clips = spark.range(32).select(F.col("id").alias("clip"))
    with_samples = clips.select(
        "clip",
        F.expr(
            "transform(sequence(0, 159), i ->"
            " cast(conv(substr(md5(cast(concat('wav|',"
            " cast(clip as string), '|', cast(i as string)) as binary)),"
            " 1, 15), 16, 10) as long) % 65536 - 32768)"
        ).alias("samples"),
    )
    out_schema = ("clip long, bin_k long, x_milli long, y_milli long,"
                  " power_est long")
    bins = {k: (list(ct), list(st))
            for k, (ct, st) in _GOERTZEL_BINS.items()}

    def run(batches):
        import numpy as np

        from .functions.wavcodec import decode_wav, encode_wav

        tabs = {k: (np.asarray(ct, dtype=np.int64),
                    np.asarray(st, dtype=np.int64))
                for k, (ct, st) in bins.items()}
        for pdf in batches:
            rows = {"clip": [], "bin_k": [], "x_milli": [],
                    "y_milli": [], "power_est": []}
            for clip, samples in zip(pdf["clip"], pdf["samples"]):
                s_arr = np.asarray(samples, dtype=np.int64)
                decoded, rate = decode_wav(
                    encode_wav(s_arr.astype(np.int16), 16000)
                )
                if rate != 16000:
                    raise RuntimeError(
                        f"wav round trip returned rate {rate}, not 16000"
                    )
                v = decoded[:160, 0].astype(np.int64)
                for k, (ct, st) in sorted(tabs.items()):
                    x = int((v * ct).sum())
                    y = int((v * st).sum())
                    rows["clip"].append(int(clip))
                    rows["bin_k"].append(k)
                    rows["x_milli"].append(x)
                    rows["y_milli"].append(y)
                    import math as _m
                    rows["power_est"].append(
                        int(_m.floor((float(x) * x + float(y) * y) / 1e12))
                    )
            yield pd.DataFrame(rows)

    return with_samples.mapInPandas(run, schema=out_schema).orderBy(
        "clip", "bin_k"
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing backtest (period 7)
# ---------------------------------------------------------------------------

# One step of the additive Holt-Winters recurrence at alpha=1/2,
# beta=gamma=1/4 (exact power-of-two ratios; every division truncates
# toward zero identically in Spark `div`, DuckDB `//`). The new level
# appears inside trend' and season' — inlined below via a one-element
# list_transform let-binding in DuckDB (safe in recursive CTEs; the
# v1.0.0 lambda bug is specific to list_reduce) and literal repetition
# in the Spark struct (its accumulator evaluates all fields against the
# OLD acc, so lv' must be spelled out wherever used).

_HW_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY day
    ), spine AS (
      SELECT d.day AS day,
             COALESCE(dd.c, 0) AS x
      FROM (SELECT unnest(range((SELECT MIN(day) FROM daily),
                                (SELECT MAX(day) FROM daily) + 1)) AS day) d
      LEFT JOIN daily dd ON dd.day = d.day
    ), packed AS (
      SELECT list(x ORDER BY day) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(day) AS BIGINT) AS day0
      FROM spine
    ), init AS (
      SELECT xs, n, day0,
             CAST(list_sum(xs[1:7]) // 7 AS BIGINT) AS lv0
      FROM packed
    ), step AS (
      SELECT 7 AS it, xs, n, day0,
             list_concat(list_concat(
               [lv0, CAST(0 AS BIGINT)],
               list_transform(range(0, 7), d ->
                 CAST(xs[((d - day0 % 7 + 14) % 7) + 1] - lv0 AS BIGINT))),
               [CAST(0 AS BIGINT)]
             ) AS st
      FROM init
      UNION ALL
      SELECT it + 1, xs, n, day0,
             list_transform(
               [(xs[it + 1] - st[((day0 + it) % 7) + 3] + st[1] + st[2])
                // 2],
               nl -> list_concat(list_concat(
                 [nl,
                  ((nl - st[1]) + 3 * st[2]) // 4],
                 list_transform(range(0, 7), d ->
                   CASE WHEN d = (day0 + it) % 7
                        THEN (xs[it + 1] - nl + 3 * st[d + 3]) // 4
                        ELSE st[d + 3] END)),
                 [st[10] + abs(xs[it + 1] - st[1] - st[2]
                               - st[((day0 + it) % 7) + 3])]
               ))[1]
      FROM step WHERE it < n
    )
    SELECT n AS n_days,
           CAST(st[1] AS BIGINT) AS level_final,
           CAST(st[2] AS BIGINT) AS trend_final,
           CAST(least(st[3], st[4], st[5], st[6], st[7], st[8], st[9])
                AS BIGINT) AS season_min,
           CAST(greatest(st[3], st[4], st[5], st[6], st[7], st[8], st[9])
                AS BIGINT) AS season_max,
           CAST(st[10] AS BIGINT) AS sum_abs_err,
           CAST(st[10] * 1000 // (n - 7) AS BIGINT) AS mae_ppk
    FROM step WHERE it = n
"""


@register(
    "holt_winters_seasonal",
    oracle=_HW_ORACLE,
    doc="Additive Holt-Winters (triple exponential, Winters Mgmt Sci "
        "1960) one-step-ahead backtest of the daily order-count series, "
        "period 7, alpha=1/2 beta=gamma=1/4: level/trend/7 seasonal "
        "registers evolve in exact int64 (power-of-two smoothing ratios "
        "as truncating divisions), seasonal index = absolute epoch day "
        "mod 7 over a DENSE zero-filled day spine (gap-proof at every "
        "SF), init = first-week mean + per-dow offsets. Completes the "
        "forecasting ladder ses (level) -> holt (trend) -> HW "
        "(seasonality); compare mae_ppk against holt_forecast_backtest "
        "and seasonal_naive_backtest. The 10-register state rules out "
        "BIGINT packing, so the oracle carries it as a LIST through a "
        "single-row recursive CTE (the knapsack/BPE pattern) while "
        "Spark folds an F.aggregate struct. Scale: one day rollup, one "
        "bounded series fold — series-length work, not table-length",
)
def q_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        epoch_day("o_orderdate").cast("long").alias("day")
    ).groupBy("day").agg(F.count("*").cast("long").alias("c"))
    packed = daily.agg(
        F.expr(
            "transform(sequence(min(day), max(day)), d -> struct(d as day))"
        ).alias("spine_days"),
        F.expr(
            "map_from_entries(collect_list(struct(day, c)))"
        ).alias("cmap"),
        F.count("*").alias("_n_present"),
        F.min("day").cast("long").alias("day0"),
    ).select(
        F.expr(
            "transform(spine_days, s ->"
            " coalesce(element_at(cmap, s.day), 0L))"
        ).alias("xs"),
        F.expr("cast(size(spine_days) as long)").alias("n"),
        "day0",
    ).localCheckpoint(eager=True)
    # lv0 as a real column so the init lambda below references a bound
    # column, not a recomputed aggregate
    init = packed.select(
        "xs", "n", "day0",
        F.expr(
            "aggregate(slice(xs, 1, 7), 0L, (a, x) -> a + x) div 7"
        ).alias("lv0"),
    )
    lvnew = ("((element_at(xs, cast(i as int)) - element_at(a.s,"
             " cast((day0 + i - 1) % 7 as int) + 1) + a.lv + a.tr)"
             " div 2)")
    fold = init.select(
        "n",
        F.expr(
            "aggregate("
            " if(n >= 8, sequence(8L, n), array()),"
            " named_struct("
            "  'lv', lv0, 'tr', 0L,"
            "  's', transform(sequence(0, 6), d ->"
            "    element_at(xs, cast((d - day0 % 7 + 14) % 7 as int) + 1)"
            "    - lv0),"
            "  'sae', 0L),"
            " (a, i) -> named_struct("
            f" 'lv', {lvnew},"
            f" 'tr', (({lvnew} - a.lv) + 3 * a.tr) div 4,"
            "  's', transform(sequence(0, 6), d ->"
            "    if(d = (day0 + i - 1) % 7,"
            f"      (element_at(xs, cast(i as int)) - {lvnew}"
            "        + 3 * element_at(a.s, cast(d as int) + 1)) div 4,"
            "      element_at(a.s, cast(d as int) + 1))),"
            "  'sae', a.sae + abs(element_at(xs, cast(i as int)) - a.lv - a.tr"
            "    - element_at(a.s, cast((day0 + i - 1) % 7 as int) + 1))))"
        ).alias("st"),
    )
    # below a full seasonal week the oracle's walk never reaches its
    # anchor and emits 0 rows — match it instead of returning the init
    # struct (round-9 self-review finding)
    return fold.filter(F.col("n") >= 7).select(
        F.col("n").alias("n_days"),
        F.col("st.lv").cast("long").alias("level_final"),
        F.col("st.tr").cast("long").alias("trend_final"),
        F.expr("array_min(st.s)").cast("long").alias("season_min"),
        F.expr("array_max(st.s)").cast("long").alias("season_max"),
        F.col("st.sae").cast("long").alias("sum_abs_err"),
        F.expr("st.sae * 1000 div (n_days - 7)").cast("long")
        .alias("mae_ppk"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (heavy-tail diagnostic for customer revenue)
# ---------------------------------------------------------------------------

@register(
    "hill_tail_index",
    oracle="""
    WITH cust AS (
      SELECT CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY o_custkey
    ), top AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC) AS rn
      FROM cust ORDER BY x DESC LIMIT 101
    ), thr AS (
      SELECT x AS xk1,
             CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000) AS BIGINT)
               AS lxk1
      FROM top WHERE rn = 101
    )
    SELECT CAST(100 AS BIGINT) AS k,
           (SELECT xk1 FROM thr) AS x_threshold,
           CAST(SUM(CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000) AS BIGINT)
                    - (SELECT lxk1 FROM thr)) // 100 AS BIGINT)
             AS hill_inv_e6,
           CAST(1000000000000 // (SUM(
                    CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000) AS BIGINT)
                    - (SELECT lxk1 FROM thr)) // 100) AS BIGINT)
             AS alpha_e6
    FROM top WHERE rn <= 100
    """,
    doc="Hill tail-index estimator (Hill AoS 1975) over per-customer "
        "revenue: 1/alpha = mean of ln(x_(i)/x_(k+1)) over the top "
        "k=100 order statistics — THE diagnostic for whether a "
        "distribution is power-law-heavy (alpha < 2 means infinite "
        "variance: sample means never stabilize, and mean-based "
        "capacity planning silently lies; power_user_curve and "
        "zipf_rank_freq_top20 show the shape, this one puts an exact "
        "number on the tail). Every ln floored to micro-nats before "
        "the order-free integer sum (event_type_entropy discipline); "
        "alpha as an exact integer reciprocal. Scale: one customer "
        "rollup + a TakeOrdered top-101; no global sort",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    orders = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.expr("sum(cast(round(o_totalprice) as long))").alias("x")
    )
    top = cust.orderBy(F.desc("x")).limit(101).select(
        "x",
        F.row_number().over(bounded_window(F.desc("x"))).alias("rn"),
    ).localCheckpoint(eager=True)
    ln_e6 = "cast(floor(ln(cast(x as double)) * 1000000) as long)"
    thr = top.filter(F.col("rn") == 101).select(
        F.col("x").alias("xk1"), F.expr(ln_e6).alias("lxk1")
    )
    return (
        top.filter(F.col("rn") <= 100)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.lit(100).cast("long").alias("k"),
            F.max("xk1").cast("long").alias("x_threshold"),
            F.expr(f"sum({ln_e6} - lxk1) div 100").cast("long")
            .alias("hill_inv_e6"),
            F.expr(
                f"1000000000000 div (sum({ln_e6} - lxk1) div 100)"
            ).cast("long").alias("alpha_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Newsvendor optimal stock levels (critical-ratio quantiles, exact)
# ---------------------------------------------------------------------------

@register(
    "newsvendor_stock_level",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(COUNT(*) AS BIGINT) AS d
      FROM orders GROUP BY day
    ), hist AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY d
    ), cum AS (
      SELECT d, SUM(t) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS c,
             (SELECT COUNT(*) FROM daily) AS n
      FROM hist
    ), scen AS (
      SELECT * FROM (VALUES
        ('understock_costly', CAST(9 AS BIGINT), CAST(1 AS BIGINT)),
        ('balanced',          CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        ('overstock_costly',  CAST(1 AS BIGINT), CAST(4 AS BIGINT))
      ) t(scenario, cu, co)
    )
    SELECT s.scenario, s.cu, s.co,
           CAST(s.cu * 1000000 // (s.cu + s.co) AS BIGINT)
             AS critical_ratio_ppm,
           CAST((SELECT MIN(d) FROM cum
                 WHERE c * (s.cu + s.co) >= n * s.cu) AS BIGINT)
             AS stock_level
    FROM scen s ORDER BY s.scenario
    """,
    doc="Newsvendor optimal stock levels (Arrow-Harris-Marschak 1951): "
        "the profit-maximizing order-up-to level is the EXACT critical-"
        "ratio quantile cu/(cu+co) of the demand distribution — computed "
        "for three cost scenarios over the daily order-count demand via "
        "the bounded value histogram (min d with cum*(cu+co) >= n*cu, "
        "the dp_contribution percentile-disc discipline, no float "
        "quantiles). The inventory-OPTIMIZATION member next to the "
        "descriptive percentile family: quantiles reports the "
        "distribution, this reads the decision off it. Scale: one day "
        "rollup + a bounded histogram window + a 3-row literal",
)
def q_newsvendor_stock_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.select(
        epoch_day("o_orderdate").cast("long").alias("day")
    ).groupBy("day").agg(F.count("*").cast("long").alias("d"))
    hist = daily.groupBy("d").agg(F.count("*").cast("long").alias("t"))
    wc = bounded_window("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "d", F.sum("t").over(wc).alias("c"),
        F.sum("t").over(bounded_window()).alias("n"),
    ).localCheckpoint(eager=True)
    scen = spark.createDataFrame(
        [("understock_costly", 9, 1), ("balanced", 1, 1),
         ("overstock_costly", 1, 4)],
        "scenario string, cu long, co long",
    )
    lvl = cum.crossJoin(F.broadcast(scen)).filter(
        F.expr("c * (cu + co) >= n * cu")
    ).groupBy("scenario").agg(F.min("d").alias("stock_level"))
    return (
        scen.join(lvl, "scenario")
        .select(
            "scenario", "cu", "co",
            F.expr("cu * 1000000 div (cu + co)").cast("long")
            .alias("critical_ratio_ppm"),
            F.col("stock_level").cast("long"),
        )
        .orderBy("scenario")
    )


# ---------------------------------------------------------------------------
# Markov-chain entropy rate of the per-user event process
# ---------------------------------------------------------------------------

@register(
    "markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS src, nxt AS dst,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT)
               AS r
      FROM seq WHERE nxt IS NOT NULL GROUP BY src, dst
    ), states AS (
      SELECT src AS st FROM trans GROUP BY st
    ), p0 AS (
      SELECT st, CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT)
               AS pi
      FROM states
    ), p0next AS (
      SELECT t.dst AS st, CAST(SUM(p.pi * t.c // t.r) AS BIGINT) AS pi
      FROM trans t JOIN p0 p ON p.st = t.src GROUP BY t.dst
    ), p0nextnext AS (
      SELECT t.dst AS st, CAST(SUM(p.pi * t.c // t.r) AS BIGINT) AS pi
      FROM trans t JOIN p0next p ON p.st = t.src GROUP BY t.dst
    ), p3 AS (
      SELECT t.dst AS st, CAST(SUM(p.pi * t.c // t.r) AS BIGINT) AS pi
      FROM trans t JOIN p0nextnext p ON p.st = t.src GROUP BY t.dst
    ), hstate AS (
      SELECT src AS st,
             CAST(SUM(c * (CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000)
                                AS BIGINT)
                           - CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                                  AS BIGINT))) // MIN(r) AS BIGINT)
               AS h_e6
      FROM trans GROUP BY src
    )
    SELECT h.st AS event_type, p.pi AS pi_ppm, h.h_e6 AS h_state_e6,
           CAST(p.pi * h.h_e6 // 1000000 AS BIGINT) AS contribution_e6
    FROM hstate h JOIN p3 p ON p.st = h.st
    ORDER BY h.st
    """,
    doc="Entropy rate of the per-user event-type Markov chain (Shannon "
        "1948: H = sum_i pi_i * H(next | state i)): transition counts "
        "from consecutive per-user events, conditional entropies with "
        "every ln floored to micro-nats (event_type_entropy discipline), "
        "stationary distribution via 3 exact int64-ppm power-iteration "
        "steps from uniform (the pagerank_fixed arithmetic on the "
        "alphabet-sized chain). Per-state rows: stationary mass, "
        "conditional entropy, contribution — the process-level "
        "compressibility number that the marginal event_type_entropy "
        "(iid view) OVERSTATES whenever transitions are sticky; "
        "markov_transition_matrix gives the matrix, this is its "
        "information rate. Scale: one user-keyed window + an "
        "alphabet-sized rollup; power iterations touch K^2 rows",
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts_nanos div 1000"), "event_id"
    )
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count("*").cast("long").alias("c")).withColumn(
        "r", F.sum("c").over(Window.partitionBy("src"))
    ).localCheckpoint(eager=True)
    states = trans.select(F.col("src").alias("st")).distinct()
    k = states.count()  # alphabet-sized probe (bounded)
    if k == 0:
        # no user has two consecutive events: match the oracle's clean
        # empty result instead of dividing by zero on the driver
        return spark.createDataFrame(
            [], "event_type string, pi_ppm long, h_state_e6 long,"
                " contribution_e6 long"
        )
    pi = states.select(
        "st", F.lit(1_000_000 // k).cast("long").alias("pi")
    )
    for _ in range(3):
        pi = (
            trans.join(pi, trans.src == pi.st)
            .groupBy(F.col("dst").alias("st"))
            .agg(F.sum(F.expr("pi * c div r")).cast("long").alias("pi"))
            .localCheckpoint(eager=True)
        )
    ln_e6 = "cast(floor(ln(cast({0} as double)) * 1000000) as long)"
    hstate = trans.groupBy(F.col("src").alias("st")).agg(
        F.expr(
            f"sum(c * ({ln_e6.format('r')} - {ln_e6.format('c')}))"
            " div min(r)"
        ).cast("long").alias("h_e6")
    )
    return (
        hstate.join(pi, "st")
        .select(
            F.col("st").alias("event_type"),
            F.col("pi").cast("long").alias("pi_ppm"),
            F.col("h_e6").alias("h_state_e6"),
            F.expr("pi * h_e6 div 1000000").cast("long")
            .alias("contribution_e6"),
        )
        .orderBy("event_type")
    )
