"""Round-8 queries. All 34 entries were hash-verified at 3 SFs + strict
parity + shuffle3/noaqe/noansi perturbations (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.dates import epoch_day
from .functions.money import cents_nonneg

from .registry import _t, register


@register(
    "viterbi_event_paths",
    oracle="""
    WITH RECURSIVE
    seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    trans AS (
      SELECT event_type AS a, nxt AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    outdeg AS (
      SELECT a, CAST(SUM(c) AS BIGINT) AS tot FROM trans GROUP BY a
    ),
    p AS (
      SELECT t.a, t.b, t.c * 1000000 // o.tot AS p_ppm
      FROM trans t JOIN outdeg o ON o.a = t.a
    ),
    start AS (
      SELECT event_type AS s FROM events
      GROUP BY 1 ORDER BY COUNT(*) DESC, event_type LIMIT 1
    ),
    v AS (
      SELECT 0 AS k, s AS state, CAST(1000000 AS BIGINT) AS score
      FROM start
      UNION ALL
      SELECT k + 1, p.b AS state,
             CAST(MAX(v.score * p.p_ppm // 1000000) AS BIGINT) AS score
      FROM v JOIN p ON p.a = v.state
      WHERE k < 4
      GROUP BY k, p.b
    )
    SELECT CAST(k AS BIGINT) AS step, state, score AS score_ppm
    FROM (
      SELECT k, state, score,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY score DESC, state) AS rn
      FROM v WHERE k > 0) WHERE rn = 1
    ORDER BY step
    """,
    doc="Viterbi decoding (max-product dynamic programming) over the "
        "event-type Markov chain: transition probabilities as ppm "
        "integers (count ratios, truncating division), start = the "
        "globally most frequent type, and for each of 4 steps the "
        "highest-scoring reachable state with its path score — scores "
        "propagate as score*p div 1e6, all int64, engine-exact. The "
        "DuckDB oracle replays the DP as a recursive CTE with GROUP BY "
        "over the recursive reference (per-state max over predecessors "
        "per step). Scale: the fact-sized work is one LEAD window per "
        "user partition + one transition groupBy; the DP itself runs on "
        "the bounded state-transition matrix (|event types|^2 rows)",
)
def q_viterbi_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count("*").alias("c"))
    outdeg = trans.groupBy("a").agg(F.sum("c").alias("tot"))
    p = (
        trans.join(outdeg, "a")
        .select("a", "b", F.expr("c * 1000000 div tot").alias("p_ppm"))
        .localCheckpoint(eager=True)  # consumed once per DP step
    )
    start = (
        ev.groupBy("event_type").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "event_type").limit(1)
        .select(F.col("event_type").alias("state"))
    )
    v = start.select(
        "state", F.lit(1000000).cast("long").alias("score")
    ).localCheckpoint(eager=True)
    rows = []
    for k in range(1, 5):
        v = (
            v.join(p, v.state == p.a)
            .groupBy(F.col("b").alias("state"))
            .agg(
                F.max(F.expr("score * p_ppm div 1000000"))
                .cast("long").alias("score")
            )
            .localCheckpoint(eager=True)
        )
        rows.append(
            v.orderBy(F.desc("score"), "state").limit(1).select(
                F.lit(k).cast("long").alias("step"), "state",
                F.col("score").alias("score_ppm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step")


def _recall_pq_oracle() -> str:
    """Exact fixed-point L2 top-5 vs the PQ-ADC top-5 (the pq_fixed_topk
    oracle embedded verbatim as a subquery), joined per query into a
    recall@5 report."""
    from .operators.similarity import FIXED_POINT_SCALE
    from .queries_ext import _pq_fixed_oracle

    return f"""
    WITH pq AS ({_pq_fixed_oracle()}),
    v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * {FIXED_POINT_SCALE}.0) AS BIGINT)) AS xq
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, xq AS qv FROM v WHERE vec_id < 4),
    ex AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, d.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY CAST(list_sum(list_transform(range(1, 65),
                   i -> (q.qv[i] - d.xq[i]) * (q.qv[i] - d.xq[i])))
                   AS BIGINT), d.vec_id) AS rn
        FROM q, v d) t(query_id, vec_id, rn)
      WHERE rn <= 5
    )
    SELECT ex.query_id,
           CAST(COUNT(pq.vec_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(pq.vec_id) * 200000 AS BIGINT) AS recall_ppm
    FROM ex LEFT JOIN pq
      ON pq.query_id = ex.query_id AND pq.vec_id = ex.vec_id
    GROUP BY ex.query_id
    ORDER BY ex.query_id
    """


@register(
    "recall_pq_vs_exact",
    oracle=_recall_pq_oracle(),
    doc="Retrieval-evaluation operator: recall@5 of the product-quantized "
        "ANN ranking against the exact ranking, per query, ENTIRELY in "
        "the fixed-point int64 domain — both rankings and the overlap "
        "join are engine-exact, so even the EVALUATION of the "
        "approximate index is hash-verified (the float-path recall pins "
        "live in pytest; this is their driver-facing twin). The oracle "
        "embeds the pq_fixed_topk oracle verbatim as a subquery next to "
        "an exact L2 top-5 CTE. Scale: exact side is the brute-force "
        "baseline over broadcast queries (the eval always runs on a "
        "bounded query sample); PQ side shuffles only 8-byte codes",
)
def q_recall_pq_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import FIXED_POINT_SCALE, pq_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = pq_topk_fixed(
        emb, q, "embedding", "vec_id", "query_id", dim=64, k=5
    ).select("query_id", "vec_id")
    fx = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * FIXED_POINT_SCALE).cast("long"),
    )
    d = emb.select(F.col("vec_id").alias("vec_id"), fx.alias("xq"))
    qv = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), fx.alias("qv")
    )
    dist = F.aggregate(
        F.zip_with("qv", "xq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    ex = (
        d.crossJoin(F.broadcast(qv))
        .select("query_id", "vec_id", dist.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id")
    )
    return (
        ex.alias("ex")
        .join(
            pq.alias("pq"),
            (F.col("ex.query_id") == F.col("pq.query_id"))
            & (F.col("ex.vec_id") == F.col("pq.vec_id")),
            "left",
        )
        .groupBy(F.col("ex.query_id").alias("query_id"))
        .agg(
            F.count(F.col("pq.vec_id")).cast("long").alias("n_overlap"),
            (F.count(F.col("pq.vec_id")) * 200000).cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


def _next_event_transitions(
    spark: SparkSession, sf_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """The next-event prediction split: ``valid`` holds every consecutive
    event-type transition (a, b) of a user's stream and ``is_train``, true
    for the users whose 60-bit md5 hash mod 10 is below 8; it is
    materialized once for its model and test consumers. ``ranked`` ranks
    the training transitions out of each state a by count (desc, then b)
    as (a, b, r)."""
    from .functions.text import portable_hash60

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id", F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    valid = pairs.select(
        "a", "b",
        (portable_hash60(F.col("user_id").cast("string")) % 10 < 8)
        .alias("is_train"),
    ).localCheckpoint(eager=True)
    wm = Window.partitionBy("a").orderBy(F.desc("cnt"), "b")
    ranked = (
        valid.filter("is_train")
        .groupBy("a", "b").agg(F.count("*").alias("cnt"))
        .withColumn("r", F.row_number().over(wm).cast("long"))
        .select("a", "b", "r")
    )
    return valid, ranked


@register(
    "markov_next_event_accuracy",
    oracle="""
    WITH pairs AS (
      SELECT user_id, event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    valid AS (
      SELECT user_id, a, b,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 10 < 8 AS is_train
      FROM pairs WHERE b IS NOT NULL
    ),
    model AS (
      SELECT a, b AS pred FROM (
        SELECT a, b,
               ROW_NUMBER() OVER (PARTITION BY a
                                  ORDER BY COUNT(*) DESC, b) AS rn
        FROM valid WHERE is_train GROUP BY a, b) WHERE rn = 1
    )
    SELECT v.a AS state,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(*) FILTER (WHERE v.b = m.pred) AS BIGINT)
             AS n_correct,
           CAST(COUNT(*) FILTER (WHERE v.b = m.pred) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm
    FROM valid v JOIN model m ON m.a = v.a
    WHERE NOT v.is_train
    GROUP BY v.a
    ORDER BY v.a
    """,
    doc="Next-event prediction eval with a Markov-argmax baseline: "
        "consecutive event pairs split at the USER level by the portable "
        "md5 hash (80/20 — user-level so no sequence leaks across the "
        "split, the split_leakage_audit discipline), the model is "
        "argmax-next-type per state from train users (count desc, type "
        "asc tie-break), and held-out accuracy is reported per state in "
        "exact integer counts + ppm. The companion to "
        "viterbi_event_paths: that one decodes, this one evaluates. "
        "Scale: one LEAD window per user partition, one model groupBy "
        "(|types|^2 rows, broadcast into the test stream), one "
        "map-side-combined accuracy aggregate",
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    valid, ranked = _next_event_transitions(spark, sf_dir)
    model = ranked.filter(F.col("r") == 1).select(
        "a", F.col("b").alias("pred")
    )
    return (
        valid.filter(~F.col("is_train"))
        .join(F.broadcast(model), "a")
        .groupBy(F.col("a").alias("state"))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.count(F.when(F.col("b") == F.col("pred"), 1))
            .cast("long").alias("n_correct"),
            F.expr(
                "count(CASE WHEN b = pred THEN 1 END) * 1000000"
                " div count(*)"
            ).cast("long").alias("acc_ppm"),
        )
        .orderBy("state")
    )


@register(
    "seq_pattern_support",
    oracle="""
    WITH pos AS (
      SELECT user_id, event_type,
             CAST(MIN((epoch_us(ts) // 1000) * 100000 + event_id % 100000)
                  AS BIGINT)
               AS first_k,
             CAST(MAX((epoch_us(ts) // 1000) * 100000 + event_id % 100000)
                  AS BIGINT)
               AS last_k
      FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events),
    sup AS (
      SELECT a.event_type AS a, b.event_type AS b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM pos a JOIN pos b
        ON b.user_id = a.user_id
       AND a.event_type <> b.event_type
       AND a.first_k < b.last_k
      GROUP BY 1, 2
    )
    SELECT sup.a, sup.b, sup.support,
           CAST(sup.support * 1000000 // n.n_users AS BIGINT)
             AS support_ppm
    FROM sup, n
    ORDER BY sup.support DESC, sup.a, sup.b
    """,
    doc="Sequential-pattern support mining (PrefixSpan/SPADE family, "
        "Pei et al. ICDE'01 — length-2 patterns with ARBITRARY gap, "
        "unlike the contiguous event_path_trigrams): a user supports "
        "'a then later b' iff some a-event precedes some b-event, which "
        "reduces exactly to first(a) < last(b) per user — so support "
        "comes from one per-(user,type) min/max aggregate and a "
        "user-keyed self-join of that SMALL relation (|users|*|types| "
        "rows), never from scanning event pairs. Event order is the "
        "total key epoch_ms*1e5 + event_id%1e5 (micros would overflow int64 under ANSI when scaled) (ties broken like the "
        "other sequence queries, int64-safe). Output: support count + "
        "ppm of users per ordered type pair. Scale: one "
        "map-side-combined groupBy over the facts; the self-join runs "
        "on the aggregate",
)
def q_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    key = (
        F.expr("(unix_micros(ts) div 1000)") * 100000
        + F.col("event_id") % 100000
    )
    pos = ev.groupBy("user_id", "event_type").agg(
        F.min(key).cast("long").alias("first_k"),
        F.max(key).cast("long").alias("last_k"),
    ).localCheckpoint(eager=True)  # both sides of the self-join
    n = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    a, b = pos.alias("a"), pos.alias("b")
    sup = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.first_k") < F.col("b.last_k")),
        )
        .groupBy(
            F.col("a.event_type").alias("a"),
            F.col("b.event_type").alias("b"),
        )
        .agg(F.count("*").cast("long").alias("support"))
    )
    return (
        sup.crossJoin(F.broadcast(n))
        .select(
            "a", "b", "support",
            F.expr("support * 1000000 div n_users").cast("long")
            .alias("support_ppm"),
        )
        .orderBy(F.desc("support"), "a", "b")
    )


@register(
    "debounce_suppressed_counts",
    oracle="""
    WITH d AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE gap_us IS NULL
                                    OR gap_us > 300000000) AS BIGINT)
             AS n_kept,
           CAST(COUNT(*) FILTER (WHERE gap_us <= 300000000) AS BIGINT)
             AS n_suppressed,
           CAST(COUNT(*) FILTER (WHERE gap_us <= 300000000) * 1000000
                // COUNT(*) AS BIGINT) AS suppressed_ppm
    FROM d GROUP BY event_type ORDER BY event_type
    """,
    doc="Event debouncing audit (the batch twin of the streaming "
        "per-key suppression pattern): an event is suppressed when the "
        "previous event of the same (user, type) lies within a 5-minute "
        "window — one LAG over the (user, type) partition in exact "
        "epoch-microsecond integers, rolled up per type with kept/"
        "suppressed counts and ppm. The dedup-adjacent op for telemetry "
        "pipelines (retry storms, double-clicks, at-least-once "
        "re-deliveries). Scale: one window over the natural partition "
        "key + one map-side-combined groupBy; no join",
)
def q_debounce_suppressed_counts(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    us = F.expr("unix_micros(ts)")
    d = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    supp = F.when(F.col("gap_us") <= 300000000, 1)
    return (
        d.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > 300000000), 1
                )
            ).cast("long").alias("n_kept"),
            F.count(supp).cast("long").alias("n_suppressed"),
            (F.count(supp) * 1000000).alias("__num"),
            F.count("*").alias("__den"),
        )
        .select(
            "event_type", "n_events", "n_kept", "n_suppressed",
            F.expr("__num div __den").cast("long")
            .alias("suppressed_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "mrr_next_event",
    oracle="""
    WITH pairs AS (
      SELECT user_id, event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    valid AS (
      SELECT a, b,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 10 < 8 AS is_train
      FROM pairs WHERE b IS NOT NULL
    ),
    ranked AS (
      SELECT a, b,
             CAST(ROW_NUMBER() OVER (PARTITION BY a
                                     ORDER BY COUNT(*) DESC, b)
                  AS BIGINT) AS r
      FROM valid WHERE is_train GROUP BY a, b
    )
    SELECT v.a AS state,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(1000000 // r.r) AS BIGINT) AS rr_sum_ppm,
           CAST(SUM(1000000 // r.r) // COUNT(*) AS BIGINT) AS mrr_ppm
    FROM valid v JOIN ranked r ON r.a = v.a AND r.b = v.b
    WHERE NOT v.is_train
    GROUP BY v.a
    ORDER BY v.a
    """,
    doc="Mean reciprocal rank of the Markov next-event ranking on "
        "held-out users (same md5 user-level 80/20 split as the "
        "accuracy eval; this is the graded-ranking metric, accuracy is "
        "its rank-1 special case): train-side next-type candidates are "
        "ranked per state (count desc, type asc), each test pair "
        "contributes floor(1e6/rank) — integer reciprocal, engine-"
        "exact — and MRR is the truncating mean. Test pairs whose "
        "transition never occurs in training drop out via the inner "
        "join (documented: their reciprocal rank is 0). Scale: one "
        "LEAD window, one model groupBy broadcast into the test "
        "stream, one final aggregate",
)
def q_mrr_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    valid, ranked = _next_event_transitions(spark, sf_dir)
    return (
        valid.filter(~F.col("is_train"))
        .join(F.broadcast(ranked), ["a", "b"])
        .groupBy(F.col("a").alias("state"))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.expr("1000000 div r")).cast("long")
            .alias("rr_sum_ppm"),
            (
                F.sum(F.expr("1000000 div r"))
            ).alias("__num"),
            F.count("*").alias("__den"),
        )
        .select(
            "state", "n_test", "rr_sum_ppm",
            F.expr("__num div __den").cast("long").alias("mrr_ppm"),
        )
        .orderBy("state")
    )


@register(
    "encoding_advisor_events",
    oracle="""
    WITH o AS (
      SELECT event_type,
             CAST(user_id AS VARCHAR) AS user_s,
             event_id AS eid,
             epoch_us(ts) // 86400000000 AS day,
             epoch_us(ts) AS us
      FROM events
    ),
    flags AS (
      SELECT
        CASE WHEN event_type IS DISTINCT FROM
             LAG(event_type) OVER w THEN 1 ELSE 0 END AS f_type,
        CASE WHEN user_s IS DISTINCT FROM
             LAG(user_s) OVER w THEN 1 ELSE 0 END AS f_user,
        CASE WHEN eid IS DISTINCT FROM
             LAG(eid) OVER w THEN 1 ELSE 0 END AS f_eid
      FROM o
      WINDOW w AS (PARTITION BY day ORDER BY us, eid)
    ),
    runs AS (
      SELECT CAST(SUM(f_type) AS BIGINT) AS r_type,
             CAST(SUM(f_user) AS BIGINT) AS r_user,
             CAST(SUM(f_eid) AS BIGINT) AS r_eid
      FROM flags
    ),
    card AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d_type,
             CAST(COUNT(DISTINCT user_s) AS BIGINT) AS d_user,
             CAST(COUNT(DISTINCT eid) AS BIGINT) AS d_eid
      FROM o
    )
    SELECT col_name, n, n_distinct, n_runs,
           (n - n_distinct) * 1000000 // n AS dict_benefit_ppm,
           (n - n_runs) * 1000000 // n AS rle_benefit_ppm
    FROM (
      SELECT 'event_type' AS col_name, c.n, c.d_type AS n_distinct,
             r.r_type AS n_runs FROM card c, runs r
      UNION ALL
      SELECT 'user_id', c.n, c.d_user, r.r_user FROM card c, runs r
      UNION ALL
      SELECT 'event_id', c.n, c.d_eid, r.r_eid FROM card c, runs r
    ) ORDER BY col_name
    """,
    doc="Parquet encoding advisor (the layout statistic behind "
        "dictionary-vs-RLE encoding choices and sort-key selection): per "
        "column of events, cardinality and the run count under the "
        "table's natural (day-partitioned, time-ordered) layout, plus "
        "dictionary benefit (1 - distinct/n) and RLE benefit "
        "(1 - runs/n) in ppm integers. Runs count IS-DISTINCT-FROM-lag "
        "flags inside day partitions (each partition's first row starts "
        "a run) — no global sort, the per-row-group shape a writer "
        "sees. event_type (low card) scores high on both; event_id "
        "(unique) scores zero. Scale: one window over the day "
        "partition, one multi-distinct aggregate; advisors run per "
        "partition in production, exactly this plan",
)
def q_encoding_advisor_events(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.col("user_id").cast("string").alias("user_s"),
        F.col("event_id").alias("eid"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("unix_micros(ts)").alias("us"),
    )
    w = Window.partitionBy("day").orderBy("us", "eid")

    def flag(c: str):
        return F.when(
            ~F.col(c).eqNullSafe(F.lag(c).over(w)), 1
        ).otherwise(0)

    flags = o.select(
        flag("event_type").alias("f_type"),
        flag("user_s").alias("f_user"),
        flag("eid").alias("f_eid"),
    )
    runs = flags.agg(
        F.sum("f_type").cast("long").alias("r_type"),
        F.sum("f_user").cast("long").alias("r_user"),
        F.sum("f_eid").cast("long").alias("r_eid"),
    )
    card = o.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("d_type"),
        F.countDistinct("user_s").cast("long").alias("d_user"),
        F.countDistinct("eid").cast("long").alias("d_eid"),
    )
    j = card.crossJoin(F.broadcast(runs))
    rows = None
    for name, dcol, rcol in (
        ("event_type", "d_type", "r_type"),
        ("user_id", "d_user", "r_user"),
        ("event_id", "d_eid", "r_eid"),
    ):
        part = j.select(
            F.lit(name).alias("col_name"), "n",
            F.col(dcol).alias("n_distinct"),
            F.col(rcol).alias("n_runs"),
            F.expr(f"(n - {dcol}) * 1000000 div n").cast("long")
            .alias("dict_benefit_ppm"),
            F.expr(f"(n - {rcol}) * 1000000 div n").cast("long")
            .alias("rle_benefit_ppm"),
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.orderBy("col_name")


# ---------------------------------------------------------------------------
# BFS hop distance from the co-purchase hub (the SSSP gap in the graph
# family: pagerank/LPA/triangles/CC/k-core exist, shortest paths did not)
# ---------------------------------------------------------------------------

@register(
    "bfs_hops_from_hub",
    oracle="""
    WITH RECURSIVE
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                        AND c.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    und AS (
      SELECT pa AS node, pb AS nb FROM e
      UNION ALL SELECT pb, pa FROM e
    ),
    hub AS (
      SELECT node FROM und GROUP BY node
      ORDER BY COUNT(*) DESC, node LIMIT 1
    ),
    walk(node, hop) AS (
      SELECT node, 0 FROM hub
      UNION ALL
      SELECT u.nb, MIN(w.hop) + 1
      FROM walk w JOIN und u ON u.node = w.node
      WHERE w.hop < 4 GROUP BY u.nb
    ),
    dist AS (
      SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM walk GROUP BY node
    )
    SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS sum_node
    FROM dist GROUP BY hop
    """,
    doc="Breadth-first hop distance from the co-purchase hub — the "
        "single-source-shortest-path member the graph family was missing "
        "(pagerank, LPA, triangles, CC, k-core all exist): the part "
        "bought with the most distinct partners (tie-break min id) seeds "
        "a 4-round frontier expansion over the >=2-common-orders "
        "co-purchase graph; output is the BFS level census (nodes + id "
        "sum per hop). Spark runs the canonical frontier loop — join "
        "frontier to the materialized undirected edge list, anti-join "
        "already-visited, localCheckpoint per round (the CC shuffle "
        "pattern: each round is edge-list-sized, never all-pairs); the "
        "oracle replays it as a recursive CTE with GROUP BY over the "
        "recursive reference. Scale: hop-bounded frontier BFS is the "
        "100 TB path (O(hops) edge-keyed shuffles); the only driver "
        "value is the hub id",
)
def q_bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, undirected

    und = undirected(
        co_purchase_pairs(_t(spark, sf_dir, "lineitem")), "node", "nb"
    ).localCheckpoint(eager=True)  # consumed once per BFS round

    hub = (
        und.groupBy("node").agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), "node").limit(1).select("node")
    )
    dist = hub.select("node", F.lit(0).cast("long").alias("hop"))
    frontier = hub
    for h in range(1, 5):
        nxt = (
            frontier.join(und, "node")
            .select(F.col("nb").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hop"))
        )
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return dist.groupBy("hop").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("node").cast("long").alias("sum_node"),
    )


# ---------------------------------------------------------------------------
# Calendar gap fill + last-observation-carried-forward (ETL spine surface)
# ---------------------------------------------------------------------------

@register(
    "gap_fill_locf_daily",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), spine AS (
      SELECT unnest(range((SELECT MIN(day) FROM d),
                          (SELECT MAX(day) FROM d) + 1)) AS day
    ), j AS (
      SELECT s.day, coalesce(d.n_orders, 0) AS n_orders, d.cents,
             SUM(CASE WHEN d.cents IS NOT NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY s.day) AS grp
      FROM spine s LEFT JOIN d ON d.day = s.day
    )
    SELECT day, n_orders,
           CAST(MAX(cents) OVER (PARTITION BY grp) AS BIGINT)
             AS locf_cents
    FROM j
    """,
    doc="Dense calendar spine + gap fill — the ETL primitive behind "
        "every time-series report: generate every day between the "
        "observed min and max, zero-fill missing counts, and "
        "carry-forward the last observed revenue (LOCF) WITHOUT any "
        "IGNORE NULLS dependency — the running count of non-null "
        "observations partitions days into epochs whose head holds the "
        "group's only non-null value, so MAX-per-epoch IS "
        "last_value(IGNORE NULLS) in portable SQL. Scale: the fact "
        "collapses to day grain first; the spine is calendar-sized "
        "(sequence + explode), the join is day-keyed, and both window "
        "passes share one day-ordered sort",
)
def q_gap_fill_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "orders").groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(
            cents_nonneg(F.col("o_totalprice"))
        ).cast("long").alias("cents"),
    )
    bounds = d.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    from .functions.windows import bounded_window

    w_run = bounded_window(F.col("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    j = (
        spine.join(d, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long")
            .alias("n_orders"),
            "cents",
        )
        .withColumn(
            "grp",
            F.sum(
                F.when(F.col("cents").isNotNull(), 1).otherwise(0)
            ).over(w_run),
        )
    )
    w_grp = Window.partitionBy("grp")  # real partition key — no warning
    return j.select(
        F.col("day").cast("long").alias("day"), "n_orders",
        F.max("cents").over(w_grp).cast("long").alias("locf_cents"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet multi-resolution energy of the daily order series
# ---------------------------------------------------------------------------

@register(
    "haar_wavelet_energy",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), base AS (
      SELECT MIN(day) AS lo FROM d
    ), spine AS (
      SELECT unnest(range(0, 256)) AS off
    ), s AS (
      SELECT spine.off, coalesce(d.x, 0) AS x
      FROM spine CROSS JOIN base
      LEFT JOIN d ON d.day = base.lo + spine.off
    ), lv AS (
      SELECT unnest(range(1, 9)) AS level
    ), blocks AS (
      SELECT lv.level, s.off // (1 << lv.level) AS block,
             CAST(SUM(CASE WHEN s.off % (1 << lv.level)
                                < (1 << (lv.level - 1))
                           THEN s.x ELSE -s.x END) AS BIGINT) AS detail
      FROM s CROSS JOIN lv
      GROUP BY 1, 2
    )
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(detail * detail) AS BIGINT) AS energy
    FROM blocks GROUP BY level
    """,
    doc="Unnormalized Haar wavelet decomposition of the first 256 days "
        "of the order-count series: per level j (block 2^j), the detail "
        "coefficient is (sum of first half) - (sum of second half) and "
        "the reported energy is the sum of squared details — the "
        "multi-resolution variance decomposition used for time-series "
        "feature extraction and change detection (which scale carries "
        "the signal: daily noise vs weekly/monthly structure). All "
        "integer on counts: no normalization constant, so zero float "
        "risk. Scale: one fact-grain day rollup; the 256-point spine "
        "crossed with 8 levels is 2k rows — both block and level "
        "aggregates are map-side trivial",
)
def q_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "orders").groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    base = d.agg(F.min("day").alias("lo"))
    spine = spark.range(256).select(F.col("id").alias("off"))
    s = (
        spine.crossJoin(F.broadcast(base))
        .join(
            d,
            F.col("day") == F.col("lo") + F.col("off"),
            "left",
        )
        .select("off", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    lv = spark.range(1, 9).select(F.col("id").cast("int").alias("level"))
    half = F.expr("shiftleft(1, level - 1)")
    width = F.expr("shiftleft(1, level)")
    blocks = (
        s.crossJoin(F.broadcast(lv))
        .groupBy(
            "level", F.expr("off div shiftleft(1, level)").alias("block")
        )
        .agg(
            F.sum(
                F.when(F.col("off") % width < half, F.col("x"))
                .otherwise(-F.col("x"))
            ).cast("long").alias("detail")
        )
    )
    return blocks.groupBy("level").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("detail") * F.col("detail")).cast("long")
        .alias("energy"),
    ).select(F.col("level").cast("long").alias("level"), "n_blocks",
             "energy")


# ---------------------------------------------------------------------------
# Interpolated quartiles (percentile_cont) in exact dyadic arithmetic
# ---------------------------------------------------------------------------

@register(
    "percentile_cont_quartiles",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(floor(quantile_cont(cents, 0.25) * 1000) AS BIGINT)
             AS q1_e3,
           CAST(floor(quantile_cont(cents, 0.5) * 1000) AS BIGINT)
             AS median_e3,
           CAST(floor(quantile_cont(cents, 0.75) * 1000) AS BIGINT)
             AS q3_e3
    FROM c GROUP BY l_returnflag
    """,
    doc="Interpolated quartiles (the SQL percentile_cont semantics — "
        "equi_depth_boundaries and quantiles cover the DISC variant, "
        "this completes the CONT one): per return flag, exact linear "
        "interpolation over integer cents. The fractions are "
        "deliberately DYADIC (0.25/0.5/0.75): rank position p*(n-1) and "
        "the interpolation a + frac*(b-a) are then EXACT IEEE "
        "operations on integer-valued doubles — engine-invariant with "
        "no transcendental in sight, so the e3 quantization can never "
        "straddle an ulp. Scale: Spark's percentile aggregate is a "
        "single-pass partial-merge aggregate (no global sort); three "
        "fractions share one pass",
)
def q_percentile_cont_quartiles(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents_nonneg(F.col("l_extendedprice"))
        .alias("cents"),
    )
    pct = F.percentile(F.col("cents"), F.array(
        F.lit(0.25), F.lit(0.5), F.lit(0.75)
    ))
    return c.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        pct.alias("p"),
    ).select(
        "l_returnflag", "n",
        F.floor(F.col("p")[0] * 1000).cast("long").alias("q1_e3"),
        F.floor(F.col("p")[1] * 1000).cast("long").alias("median_e3"),
        F.floor(F.col("p")[2] * 1000).cast("long").alias("q3_e3"),
    )


# ---------------------------------------------------------------------------
# Stratified k-fold cross-validation assignment (ML split surface)
# ---------------------------------------------------------------------------

@register(
    "stratified_kfold_assignment",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY CAST('0x' || substr(md5('fold|' ||
                             CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                        doc_id) - 1 AS r
      FROM documents
    ), f AS (
      SELECT lang, r % 5 AS fold, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY lang, r % 5
    )
    SELECT lang, fold, n,
           CAST(MAX(n) OVER (PARTITION BY lang)
                - MIN(n) OVER (PARTITION BY lang) AS BIGINT)
             AS lang_imbalance
    FROM f
    """,
    doc="Stratified k-fold cross-validation assignment (k=5, stratified "
        "by language): within each stratum, documents are ordered by a "
        "deterministic md5 draw (ties broken by id) and dealt "
        "round-robin, so every fold gets floor/ceil(n_s/5) members of "
        "every stratum — the per-stratum imbalance column PROVES it is "
        "never more than 1. This is the split ML evaluation needs where "
        "train_val_test_split (hash-proportional, entity-safe) would "
        "leave strata uneven at small n. Deterministic: reruns and "
        "repartitions deal identically. Scale: one rank window per "
        "stratum + a (lang, fold)-grain rollup; nothing driver-side",
)
def q_stratified_kfold_assignment(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.expr(
            "cast(conv(substr(md5(cast(concat('fold|',"
            " cast(doc_id as string)) as binary)), 1, 15), 16, 10)"
            " as long)"
        ).alias("draw"),
    )
    r = F.row_number().over(
        Window.partitionBy("lang").orderBy("draw", "doc_id")
    ) - 1
    f = d.select("lang", (r % 5).cast("long").alias("fold")).groupBy(
        "lang", "fold"
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("lang")
    return f.select(
        "lang", "fold", "n",
        (F.max("n").over(w) - F.min("n").over(w)).cast("long")
        .alias("lang_imbalance"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999), integer fixed-point
# ---------------------------------------------------------------------------

def _hits_oracle(rounds: int = 2) -> str:
    ctes = ["""
    e AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY c, s
    ),
    h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e)"""]
    for t in range(1, rounds + 1):
        p = t - 1
        ctes.append(f"""
    ar{t} AS (SELECT e.s, CAST(SUM(e.w * h{p}.h) AS BIGINT) AS r
              FROM e JOIN h{p} ON h{p}.c = e.c GROUP BY e.s),
    a{t} AS (SELECT s, r * 1000000 // (SELECT MAX(r) FROM ar{t}) AS a
             FROM ar{t}),
    hr{t} AS (SELECT e.c, CAST(SUM(e.w * a{t}.a) AS BIGINT) AS r
              FROM e JOIN a{t} ON a{t}.s = e.s GROUP BY e.c),
    h{t} AS (SELECT c, r * 1000000 // (SELECT MAX(r) FROM hr{t}) AS h
             FROM hr{t})""")
    return (
        "WITH" + ",".join(ctes) + f"""
    SELECT * FROM (
      SELECT 'authority' AS role, s AS node,
             CAST(a AS BIGINT) AS score_e6
      FROM a{rounds} ORDER BY a DESC, s LIMIT 20)
    UNION ALL
    SELECT * FROM (
      SELECT 'hub' AS role, c AS node, CAST(h AS BIGINT) AS score_e6
      FROM h{rounds} ORDER BY h DESC, c LIMIT 20)
    ORDER BY role, score_e6 DESC, node
    """
    )


@register(
    "hits_fixed_scores",
    oracle=_hits_oracle(),
    doc="HITS hubs-and-authorities (Kleinberg 1999, JACM) on the "
        "customer->supplier purchase graph — the directed-bipartite "
        "centrality pagerank cannot express (who are the strongest "
        "buyers vs the most-bought-from suppliers): 2 mutual-"
        "reinforcement rounds, max-normalized to e6 each half-step so "
        "the whole recurrence stays in EXACT int64 (w*h <= total_weight "
        "* 1e6 ~ 6e11 at sf0.1; document before 1e12-edge graphs). "
        "Oracle unrolls the rounds as chained CTEs (lpa/bradley-terry "
        "pattern). Output: top-20 per role. Scale: edge list built by "
        "one fact join + groupBy, then each half-step broadcasts the "
        "e6 score vector into one edge aggregate — O(rounds) broadcast "
        "joins, no fact reshuffle; top-k is TakeOrdered",
)
def q_hits_fixed_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import hits_fixed

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").cast("long").alias("w"))
    )
    auth, hub = hits_fixed(e, "c", "s", "w", rounds=2)
    top_a = (
        auth.orderBy(F.desc("score_e6"), "node").limit(20)
        .select(F.lit("authority").alias("role"), "node", "score_e6")
    )
    top_h = (
        hub.orderBy(F.desc("score_e6"), "node").limit(20)
        .select(F.lit("hub").alias("role"), "node", "score_e6")
    )
    return top_a.unionByName(top_h).orderBy(
        "role", F.desc("score_e6"), "node"
    )


# ---------------------------------------------------------------------------
# NDCG@10 of fixed-point exact retrieval against label relevance
# ---------------------------------------------------------------------------

# floor(1e9 / log2(rank+1)) for rank 1..10, and prefix sums (IDCG of r
# all-relevant prefix) — frozen literals so NO transcendental runs in
# either engine.
_NDCG_W = [1000000000, 630929753, 500000000, 430676558, 386852807,
           356207187, 333333333, 315464876, 301029995, 289064826]
_NDCG_PS = [1000000000, 1630929753, 2130929753, 2561606311, 2948459118,
            3304666305, 3637999638, 3953464514, 4254494509, 4543559335]


def _ndcg_oracle() -> str:
    w_arr = ", ".join(str(x) for x in _NDCG_W)
    ps_arr = ", ".join(str(x) for x in _NDCG_PS)
    return f"""
    WITH fx AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM fx WHERE vec_id < 8),
    nrel AS (
      SELECT q.query_id,
             CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM q JOIN fx d ON d.label = q.qlabel AND d.vec_id <> q.query_id
      GROUP BY q.query_id
    ),
    sc AS (
      SELECT q.query_id, q.qlabel, d.vec_id AS doc_id, d.label,
             CAST(list_sum(list_transform(range(0, 64),
               k -> q.qv[1 + k] * d.v[1 + k])) AS BIGINT) AS dot
      FROM q JOIN fx d ON d.vec_id <> q.query_id
    ),
    top AS (
      SELECT query_id, qlabel, doc_id, label, dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, doc_id) AS rn
      FROM sc QUALIFY rn <= 10
    ),
    dcg AS (
      SELECT query_id, any_value(qlabel) AS qlabel,
             CAST(SUM(CASE WHEN label = qlabel
                      THEN [{w_arr}][rn] ELSE 0 END) AS BIGINT) AS dcg
      FROM top GROUP BY query_id
    )
    SELECT d.query_id, d.qlabel AS label, n.n_rel, d.dcg,
           CAST([{ps_arr}][LEAST(n.n_rel, 10)] AS BIGINT) AS idcg,
           d.dcg * 1000000000
             // [{ps_arr}][LEAST(n.n_rel, 10)] AS ndcg_e9
    FROM dcg d JOIN nrel n ON n.query_id = d.query_id
    ORDER BY d.query_id
    """


def _panel_retrieval_top10(spark: SparkSession, sf_dir: str):
    """Shared fixed-point retrieval scaffold for the ranking-eval
    queries (NDCG@10 / MAP@10 — one definition so the panel predicate,
    the 2^10 quantization and the (dot desc, doc_id) tie-break cannot
    drift between metrics or their oracles): returns (corpus, queries,
    top10) where top10 carries (query_id, qlabel, doc_id, label, dot,
    rn<=10). The 8-query panel broadcasts against the corpus scan; the
    per-query cut is a WindowGroupLimit heap (literal bound)."""
    emb = _t(spark, sf_dir, "embeddings")
    fx = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1024).cast("long"),
    )
    d = emb.select("vec_id", "label", fx.alias("v")).localCheckpoint()
    q = d.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    sc = (
        d.join(F.broadcast(q), d.vec_id != q.query_id)
        .select("query_id", "qlabel", F.col("vec_id").alias("doc_id"),
                "label", dot.alias("dot"))
    )
    w10 = Window.partitionBy("query_id").orderBy(F.desc("dot"), "doc_id")
    top = sc.withColumn("rn", F.row_number().over(w10)).filter(
        F.col("rn") <= 10
    )
    return d, q, top


@register(
    "ndcg_ranking_eval",
    oracle=_ndcg_oracle(),
    doc="NDCG@10 retrieval evaluation (Jarvelin & Kekalainen 2002) of "
        "exact fixed-point dot-product retrieval against label-match "
        "relevance: 8 query vectors, per-query top-10 by floor(x*2^10) "
        "int64 dots (engine-exact), binary gain label==query_label, "
        "log2 rank discounts FROZEN as integer literals (floor(1e9/"
        "log2(r+1)) and their prefix sums for IDCG) so no transcendental "
        "runs in either engine; ndcg = dcg*1e9 div idcg with "
        "idcg = prefix_sum[least(n_rel,10)]. Completes the ranking-eval "
        "family (MRR staged, RRF/BM25/MaxSim live) with the standard "
        "graded metric. Scale: bounded query panel broadcasts against "
        "the corpus scan (production eval shape), per-query top-10 is a "
        "WindowGroupLimit heap; everything after runs on 80 rows",
)
def q_ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, q, top = _panel_retrieval_top10(spark, sf_dir)
    nrel = (
        q.join(F.broadcast(d), (d.label == q.qlabel)
               & (d.vec_id != q.query_id))
        .groupBy("query_id").agg(F.count("*").cast("long").alias("n_rel"))
    )
    wlit = F.array(*[F.lit(x) for x in _NDCG_W])
    dcg = top.groupBy("query_id").agg(
        F.first("qlabel").alias("label"),
        F.sum(
            F.when(F.col("label") == F.col("qlabel"),
                   F.element_at(wlit, F.col("rn").cast("int")))
            .otherwise(F.lit(0).cast("long"))
        ).cast("long").alias("dcg"),
    )
    pslit = F.array(*[F.lit(x) for x in _NDCG_PS])
    idcg = F.element_at(
        pslit, F.least(F.col("n_rel"), F.lit(10)).cast("int")
    ).cast("long")
    return (
        dcg.join(F.broadcast(nrel), "query_id")
        .select(
            "query_id", "label", "n_rel", "dcg", idcg.alias("idcg"),
            F.expr("dcg * 1000000000 div idcg").cast("long")
            .alias("ndcg_e9"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Mutual nearest-neighbor pairs (reciprocal-NN dedup panel)
# ---------------------------------------------------------------------------

@register(
    "mutual_nn_pairs",
    oracle="""
    WITH fx AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    sc AS (
      SELECT a.id AS ia, b.id AS ib,
             CAST(list_sum(list_transform(range(0, 64),
               k -> a.v[1 + k] * b.v[1 + k])) AS BIGINT) AS dot
      FROM fx a JOIN fx b ON b.id <> a.id
    ),
    nn AS (
      SELECT ia, ib, dot,
             ROW_NUMBER() OVER (PARTITION BY ia
                                ORDER BY dot DESC, ib) AS rn
      FROM sc QUALIFY rn = 1
    )
    SELECT m1.ia AS id_a, m1.ib AS id_b, m1.dot AS dot_fx
    FROM nn m1 JOIN nn m2 ON m2.ia = m1.ib AND m2.ib = m1.ia
    WHERE m1.ia < m1.ib
    ORDER BY id_a
    """,
    doc="Reciprocal (mutual) nearest-neighbor pairs over a deterministic "
        "embedding panel (vec_id % 10) — the high-precision core of "
        "semantic dedup and bitext mining (two vectors that pick each "
        "other as NN are near-certain duplicates; one-directional NN is "
        "noise): exact fixed-point floor(x*2^10) dots, per-vector argmax "
        "with literal rank bound, then a self-join keeps only symmetric "
        "(a->b and b->a) pairs. Scale: the panel is the production "
        "shape (mutual-NN runs on LSH/IVF candidate buckets, never "
        "all-pairs corpus-wide — embedding_neardup_lsh supplies the "
        "buckets); per-bucket quadratic cost is capped exactly like the "
        "live LSH verify kernels. WindowGroupLimit argmax, broadcast "
        "self-join of the tiny NN table",
)
def q_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    fx = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1024).cast("long"),
    )
    panel = emb.select(F.col("vec_id").alias("id"), fx.alias("v"))
    panel = panel.localCheckpoint()  # both sides of the quadratic join
    a = panel.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = panel.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    sc = a.join(F.broadcast(b), F.col("ib") != F.col("ia")).select(
        "ia", "ib", dot.alias("dot")
    )
    w = Window.partitionBy("ia").orderBy(F.desc("dot"), "ib")
    nn = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 1).drop("rn").localCheckpoint()
    )
    m2 = nn.select(F.col("ia").alias("jb"), F.col("ib").alias("ja"))
    return (
        nn.join(F.broadcast(m2), (F.col("ja") == F.col("ia"))
                & (F.col("jb") == F.col("ib")))
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                F.col("dot").alias("dot_fx"))
        .orderBy("id_a")
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------

@register(
    "cuped_variance_reduction",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM u
    )
    SELECT n, sx, sy, sxx, syy, sxy,
           CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0
                THEN 0 ELSE CAST(floor(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 1000000) AS BIGINT) END AS theta_e6,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(n AS DOUBLE) * syy
                        - CAST(sy AS DOUBLE) * sy) <= 0
                THEN 0 ELSE CAST(floor(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000) AS BIGINT) END AS var_reduction_ppm
    FROM m
    """,
    doc="CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13) — "
        "the experimentation-platform staple: per-user pre-period "
        "(first half of the month) covariate X and post-period metric Y "
        "in exact integer cents, exact int64 moment sums, then theta = "
        "cov(X,Y)/var(X) and the achieved variance reduction rho^2 = "
        "cov^2/(var_x*var_y) as ONE double expression each over the "
        "exact longs (int->double casts and +,-,*,/ are correctly "
        "rounded IEEE — engine-identical; no transcendental), floored "
        "to e6/ppm. Degenerate-variance guards return 0 in both "
        "engines. Scale: one user-keyed aggregate over the event scan, "
        "one 6-moment global rollup — two map-side-combinable "
        "exchanges, driver sees one row",
)
def q_cuped_variance_reduction(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    cents = cents_nonneg(F.col("value"))
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).cast("long")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(0))
        .cast("long").alias("y"),
    )
    m = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = nd * F.col("sxy") - sxd * F.col("sy")
    varx = nd * F.col("sxx") - sxd * F.col("sx")
    vary = nd * F.col("syy") - syd * F.col("sy")
    theta = F.when(varx <= 0, F.lit(0).cast("long")).otherwise(
        F.floor(cov / varx * 1000000).cast("long")
    )
    rho2 = F.when(varx * vary <= 0, F.lit(0).cast("long")).otherwise(
        F.floor(cov * cov / (varx * vary) * 1000000).cast("long")
    )
    return m.select(
        "n", "sx", "sy", "sxx", "syy", "sxy",
        theta.alias("theta_e6"), rho2.alias("var_reduction_ppm"),
    )


# ---------------------------------------------------------------------------
# ROC AUC by source (exact midrank Mann-Whitney, integer arithmetic)
# ---------------------------------------------------------------------------

@register(
    "roc_auc_by_source",
    oracle="""
    WITH g AS (
      SELECT source, n_chars AS score,
             CAST(COUNT(*) AS BIGINT) AS grp,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM documents GROUP BY source, n_chars
    ),
    c AS (
      SELECT source, score, grp, pos,
             CAST(coalesce(SUM(grp) OVER (
               PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS before
      FROM g
    ),
    s AS (
      SELECT source,
             CAST(SUM(grp) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(pos * (2 * before + grp + 1)) AS BIGINT) AS r2
      FROM c GROUP BY source
    )
    SELECT source, n, n_pos,
           CASE WHEN n_pos = 0 OR n_pos = n THEN -1
                ELSE (r2 - n_pos * (n_pos + 1)) * 1000000
                     // (2 * n_pos * (n - n_pos)) END AS auc_e6
    FROM s ORDER BY source
    """,
    doc="ROC AUC per source of the doc-length score for the lang='en' "
        "class — the exact Mann-Whitney rank-sum AUC with PROPER midrank "
        "tie handling, kept entirely in int64: group rows by distinct "
        "score, doubled midranks 2*avg_rank = 2*cum_before + group + 1 "
        "(always integer), 2*R_pos summed exactly, then AUC = "
        "(2R - n1(n1+1)) e6-div (2 n1 n0); degenerate single-class "
        "sources return -1 in both engines. Distinct-score windows are "
        "per-source and bounded by the score domain (<= ~600 values). "
        "Scale: one (source, score) aggregate over the scan, a "
        "per-source running sum over the tiny distinct-score relation, "
        "one rollup — no row-level window, no join",
)
def q_roc_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(
        "source", F.col("n_chars").alias("score")
    ).agg(
        F.count("*").cast("long").alias("grp"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long")
        .alias("pos"),
    )
    w = (
        Window.partitionBy("source").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.select(
        "source", "grp", "pos",
        F.coalesce(F.sum("grp").over(w), F.lit(0)).cast("long")
        .alias("before"),
    )
    s = c.groupBy("source").agg(
        F.sum("grp").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("pos") * (2 * F.col("before") + F.col("grp") + 1))
        .cast("long").alias("r2"),
    )
    auc = F.when(
        (F.col("n_pos") == 0) | (F.col("n_pos") == F.col("n")),
        F.lit(-1).cast("long"),
    ).otherwise(
        F.expr("(r2 - n_pos * (n_pos + 1)) * 1000000"
               " div (2 * n_pos * (n - n_pos))").cast("long")
    )
    return s.select("source", "n", "n_pos", auc.alias("auc_e6")).orderBy(
        "source"
    )


# ---------------------------------------------------------------------------
# binaryFile source scan of real WAV shards (Spark built-in binary source)
# ---------------------------------------------------------------------------

@register(
    "binaryfile_wav_scan",
    oracle="""
    WITH c AS (
      SELECT unnest(range(0, 16)) AS clip
    ), ix AS (
      SELECT clip, unnest(range(0, 800)) AS i FROM c
    ), s AS (
      SELECT clip, i,
             CAST('0x' || substr(md5('bwav|' || CAST(clip AS VARCHAR)
                                     || '|' || CAST(i AS VARCHAR)),
                                 1, 15) AS BIGINT) % 65536 - 32768 AS v
      FROM ix
    )
    SELECT clip, CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS energy
    FROM s GROUP BY clip ORDER BY clip
    """,
    doc="Spark's built-in binaryFile SOURCE driving the real WAV codec: "
        "16 deterministic clips (800 md5-derived int16 samples each) are "
        "encoded by functions/wavcodec.py into actual .wav FILES in an "
        "idempotent scratch dir, scanned back via "
        "spark.read.format('binaryFile') (path + content rows), decoded "
        "per-file inside one mapInPandas stage, and reduced to exact "
        "per-clip int64 energies. The DuckDB oracle replays the sample "
        "formula arithmetic only — it never sees the files — so a hash "
        "match certifies source + codec + decode end to end (the "
        "binaryFile twin of wav_roundtrip_frame_energy, which never "
        "leaves memory). Scale: binaryFile is the production ingest "
        "shape for audio/image shards — one file per task, decode runs "
        "where the bytes land, only 16-row aggregates shuffle. NOTE: "
        "the scratch dir is driver-local, which binaryFile can only "
        "read back under a shared filesystem (local[*] here); on a "
        "real cluster the shards live in shared/object storage and "
        "only the .load(path) changes",
)
def q_binaryfile_wav_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    import numpy as np

    from .functions.wavcodec import encode_wav

    root = os.path.join(tempfile.gettempdir(), "spark_graft_bwav_v1")
    os.makedirs(root, exist_ok=True)
    for clip in range(16):
        path = os.path.join(root, f"clip_{clip:02d}.wav")
        if os.path.exists(path):
            continue
        vals = [
            int(hashlib.md5(f"bwav|{clip}|{i}".encode())
                .hexdigest()[:15], 16) % 65536 - 32768
            for i in range(800)
        ]
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_wav(np.asarray(vals, dtype=np.int16)))
        os.replace(tmp, path)  # atomic: concurrent callers see full files

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(root)
        .select("path", "content")
    )

    def decode(batches):
        import pandas as pd

        from gan_deeplearning4j_spark.functions.wavcodec import decode_wav

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                clip = int(path.rsplit("clip_", 1)[1][:2])
                samples, _sr = decode_wav(bytes(content))
                flat = samples.reshape(-1).astype("int64")
                out.append((clip, len(flat), int((flat * flat).sum())))
            yield pd.DataFrame(
                out, columns=["clip", "n_samples", "energy"])

    return (
        files.mapInPandas(
            decode, "clip long, n_samples long, energy long")
        .groupBy("clip")
        .agg(
            F.sum("n_samples").cast("long").alias("n_samples"),
            F.sum("energy").cast("long").alias("energy"),
        )
        .orderBy("clip")
    )


# ---------------------------------------------------------------------------
# pass@k estimator (Chen et al. 2021, unbiased HumanEval estimator)
# ---------------------------------------------------------------------------

def _pass_ratio_sql(k: int) -> str:
    """1 - prod_{i<k} (n-c-i)/(n-i) as an explicit expression tree —
    identical shape in both engines so the IEEE double product is
    bit-identical; a zero term (n-c < k) collapses the product to 0."""
    terms = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / CAST(n - {i} AS DOUBLE))"
        for i in range(k)
    )
    return f"CAST(floor((1.0 - {terms}) * 1000000000) AS BIGINT)"


@register(
    "pass_at_k_estimator",
    oracle=f"""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    f AS (SELECT * FROM u WHERE n >= 10),
    p AS (
      SELECT user_id,
             {_pass_ratio_sql(1)} AS p1,
             {_pass_ratio_sql(5)} AS p5,
             {_pass_ratio_sql(10)} AS p10
      FROM f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(p1) AS BIGINT) // COUNT(*) AS pass_at_1_e9,
           CAST(SUM(p5) AS BIGINT) // COUNT(*) AS pass_at_5_e9,
           CAST(SUM(p10) AS BIGINT) // COUNT(*) AS pass_at_10_e9
    FROM p
    """,
    doc="pass@k estimator (Chen et al. 2021, the unbiased HumanEval "
        "combinatorial estimator 1 - C(n-c,k)/C(n,k)) over per-user "
        "event trials (n = attempts, c = 'purchase' successes, users "
        "with n >= 10): the binomial ratio is evaluated as the "
        "telescoping product of k per-step ratios — an EXPLICIT "
        "identical expression tree in both engines, so the IEEE double "
        "product is bit-identical (no transcendental, no sum-order "
        "hazard; a zero term handles n-c < k exactly) — then floored to "
        "e9 per user BEFORE the average so the rollup is exact integer "
        "arithmetic. The LLM-eval staple for sampling-based benchmark "
        "scoring. Scale: one user-keyed aggregate over the event scan, "
        "one global rollup — two map-side-combinable exchanges, one row "
        "to the driver",
)
def q_pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("c"),
    ).filter(F.col("n") >= 10)

    def p_e9(k: int):
        prod = None
        for i in range(k):
            t = (
                (F.col("n") - F.col("c") - F.lit(i)).cast("double")
                / (F.col("n") - F.lit(i)).cast("double")
            )
            prod = t if prod is None else prod * t
        return F.floor((F.lit(1.0) - prod) * 1000000000).cast("long")

    p = u.select(
        p_e9(1).alias("p1"), p_e9(5).alias("p5"), p_e9(10).alias("p10")
    )
    return p.agg(
        F.count("*").cast("long").alias("n_users"),
        F.expr("sum(p1) div count(*)").cast("long").alias("pass_at_1_e9"),
        F.expr("sum(p5) div count(*)").cast("long").alias("pass_at_5_e9"),
        F.expr("sum(p10) div count(*)").cast("long")
        .alias("pass_at_10_e9"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration of the reliability bins (minimax closed form)
# ---------------------------------------------------------------------------

@register(
    "isotonic_calibration_bins",
    oracle="""
    WITH s AS (
      SELECT LEAST(n_chars, 2000) * 500 AS score_e6,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ), b AS (
      SELECT LEAST(score_e6 // 100000, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS pos
      FROM s GROUP BY bin
    ), c AS (
      SELECT bin, n, pos,
             CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
             CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cpos
      FROM b
    ), iv AS (
      SELECT j.bin AS j, k.bin AS k,
             (k.cpos - (j.cpos - j.pos)) * 1000000000
               // (k.cn - (j.cn - j.n)) AS mean_e9
      FROM c j JOIN c k ON k.bin >= j.bin
    ), inner_min AS (
      SELECT b.bin, iv.j,
             CAST(MIN(iv.mean_e9) AS BIGINT) AS min_mean
      FROM b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
      GROUP BY b.bin, iv.j
    ), iso AS (
      SELECT bin, CAST(MAX(min_mean) AS BIGINT) AS iso_e9
      FROM inner_min GROUP BY bin
    )
    SELECT b.bin, b.n, b.pos,
           b.pos * 1000000000 // b.n AS rate_e9,
           iso.iso_e9,
           CASE WHEN b.pos * 1000000000 // b.n <> iso.iso_e9
                THEN 1 ELSE 0 END AS pooled
    FROM b JOIN iso ON iso.bin = b.bin
    ORDER BY b.bin
    """,
    doc="Isotonic (PAVA) calibration of the reliability bins via the "
        "minimax closed form iso_i = max_{j<=i} min_{k>=i} "
        "mean(y[j..k]) (Robertson-Wright-Dykstra 1988, eq. 1.9-1.10) — "
        "the distribution-free recalibrator that pools adjacent "
        "violators of monotonicity; `pooled` marks bins the fit moved. "
        "Interval means come from prefix sums and are quantized to e9 "
        "by exact integer division BEFORE the minimax, so both engines "
        "compute the identical fit with zero float hazard (the "
        "sequential PAVA sweep is replaced by the order-free minimax — "
        "a closed form joins can express, same trick as the "
        "cusum_drift_alarms running-clamp). Scale: one "
        "map-side-combinable 10-group aggregate over the scan; the "
        "cubic minimax runs on a 10-row relation (10^3 cells), "
        "driver sees 10 rows",
)
def q_isotonic_calibration_bins(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    from .operators.aggregates import calibration_scores

    s = calibration_scores(_t(spark, sf_dir, "documents"))
    b = s.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
    ).localCheckpoint()  # 10 rows; consumed by c, inner_min, final join
    w = bounded_window().orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = b.select(
        "bin", "n", "pos",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("pos").over(w).cast("long").alias("cpos"),
    )
    j = c.select(F.col("bin").alias("j"), F.col("n").alias("jn"),
                 F.col("pos").alias("jpos"), F.col("cn").alias("jcn"),
                 F.col("cpos").alias("jcpos"))
    k = c.select(F.col("bin").alias("k"), F.col("cn").alias("kcn"),
                 F.col("cpos").alias("kcpos"))
    iv = j.join(F.broadcast(k), F.col("k") >= F.col("j")).select(
        "j", "k",
        F.expr("(kcpos - (jcpos - jpos)) * 1000000000"
               " div (kcn - (jcn - jn))").cast("long").alias("mean_e9"),
    )
    inner_min = (
        b.select("bin").join(
            F.broadcast(iv),
            (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")),
        )
        .groupBy("bin", "j")
        .agg(F.min("mean_e9").cast("long").alias("min_mean"))
    )
    iso = inner_min.groupBy("bin").agg(
        F.max("min_mean").cast("long").alias("iso_e9")
    )
    rate = F.expr("pos * 1000000000 div n").cast("long")
    return (
        b.join(F.broadcast(iso), "bin")
        .select(
            "bin", "n", "pos", rate.alias("rate_e9"), "iso_e9",
            F.when(rate != F.col("iso_e9"), 1).otherwise(0).alias("pooled"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval + empirical coverage audit
# ---------------------------------------------------------------------------

@register(
    "conformal_quantile_coverage",
    oracle="""
    WITH d AS (
      SELECT lang, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 2 AS odd,
             doc_id
      FROM documents
    ),
    cal AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS rnk,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_cal
      FROM d WHERE odd = 0
    ),
    q AS (
      SELECT lang, n_cal,
             CAST((9 * n_cal + 18) // 10 AS BIGINT) AS k_raw,
             CAST(MAX(CASE WHEN rnk = LEAST((9 * n_cal + 18) // 10, n_cal)
                      THEN n_chars END) AS BIGINT) AS q_hat
      FROM cal GROUP BY lang, n_cal
    ),
    t AS (
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN d.n_chars <= q.q_hat THEN 1 ELSE 0 END)
                  AS BIGINT) AS covered
      FROM d JOIN q ON q.lang = d.lang
      WHERE d.odd = 1
      GROUP BY d.lang
    )
    SELECT q.lang, q.n_cal, t.n_test,
           LEAST(q.k_raw, q.n_cal) AS k, q.q_hat, t.covered,
           t.covered * 1000000 // t.n_test AS coverage_e6
    FROM q JOIN t ON t.lang = q.lang
    ORDER BY q.lang
    """,
    doc="Split-conformal prediction upper bound + empirical coverage "
        "(Vovk et al.; Angelopoulos & Bates 2023 tutorial form) per "
        "language: a deterministic md5-parity split into calibration/"
        "test halves, q_hat = the ceil((n+1)*0.9)-th smallest "
        "calibration n_chars (an EXACT order statistic by rank — no "
        "interpolation, clamped to n_cal), then the audited test-side "
        "coverage of the one-sided interval [0, q_hat] at e6. The "
        "distribution-free eval gate modern uncertainty pipelines run "
        "after every retrain. All arithmetic is integer (rank, "
        "ceil-by-div, exact counts). Scale: one rank window per "
        "language over the calibration half, one broadcast of the "
        "~5-row quantile table into the test scan — the split itself "
        "is a scan-local hash, never a shuffle",
)
def q_conformal_quantile_coverage(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang", "n_chars", "doc_id",
        (portable_hash60(F.col("doc_id").cast("string")) % 2).alias("odd"),
    ).localCheckpoint()  # split consumed by both halves
    wrk = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    cal = d.filter(F.col("odd") == 0).select(
        "lang", "n_chars",
        F.row_number().over(wrk).alias("rnk"),
        F.count("*").over(wn).cast("long").alias("n_cal"),
    )
    k_raw = F.expr("(9 * n_cal + 18) div 10").cast("long")
    q = cal.groupBy("lang", "n_cal").agg(
        F.max(
            F.when(F.col("rnk") == F.least(k_raw, F.col("n_cal")),
                   F.col("n_chars"))
        ).cast("long").alias("q_hat"),
    ).withColumn("k_raw", k_raw)
    t = (
        d.filter(F.col("odd") == 1)
        .join(F.broadcast(q), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("n_chars") <= F.col("q_hat"), 1).otherwise(0)
            ).cast("long").alias("covered"),
        )
    )
    return (
        q.join(t, "lang")
        .select(
            "lang", "n_cal", "n_test",
            F.least(F.col("k_raw"), F.col("n_cal")).cast("long").alias("k"),
            "q_hat", "covered",
            F.expr("covered * 1000000 div n_test").cast("long")
            .alias("coverage_e6"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Effective sample size of weighted sampling schemes (Kish ESS)
# ---------------------------------------------------------------------------

@register(
    "ess_weighted_sampling",
    oracle="""
    WITH w AS (
      SELECT source, CAST(n_chars AS BIGINT) AS w
      FROM documents
    ),
    m AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(w) AS BIGINT) AS s1,
             CAST(SUM(w * w) AS BIGINT) AS s2,
             CAST(SUM(w * w * w * w) AS BIGINT) AS s4
      FROM w GROUP BY source
    )
    SELECT source, n, s1, s2,
           s1 * s1 // s2 AS ess_t1,
           s2 * s2 // s4 AS ess_t2,
           (s1 * s1 // s2) * 1000000 // n AS ess_t1_ratio_e6
    FROM m ORDER BY source
    """,
    doc="Kish effective sample size of length-weighted sampling per "
        "source — the standard diagnostic for importance/mixture "
        "sampling collapse (Kish 1965; Owen, Monte Carlo ch. 9): "
        "ESS = (SUM w)^2 / SUM w^2 for temperature-1 weights w=n_chars "
        "and temperature-2 weights w^2 (ESS_t2 = (SUM w^2)^2/SUM w^4), "
        "plus ESS/n at e6 — a low ratio flags a source whose weighted "
        "sample degenerates onto a few long documents (the failure mode "
        "of naive length-weighted pretraining mixes). EXACT int64 "
        "throughout (n_chars <= ~600 keeps SUM w^4 < 2^63 up to ~7e7 "
        "docs/source; swap to per-group double moments past that). "
        "Scale: one map-side-combinable aggregate over the scan, "
        "~5 rows out",
)
def q_ess_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = F.col("n_chars").cast("long")
    m = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(w).cast("long").alias("s1"),
        F.sum(w * w).cast("long").alias("s2"),
        F.sum(w * w * w * w).cast("long").alias("s4"),
    )
    return m.select(
        "source", "n", "s1", "s2",
        F.expr("s1 * s1 div s2").cast("long").alias("ess_t1"),
        F.expr("s2 * s2 div s4").cast("long").alias("ess_t2"),
        F.expr("(s1 * s1 div s2) * 1000000 div n").cast("long")
        .alias("ess_t1_ratio_e6"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Allen interval-algebra relation census (temporal logic over spans)
# ---------------------------------------------------------------------------

# priority: exact-equality relations first so degenerate point spans
# ([t,t] from single-event keys) classify as equals/starts rather than
# meets; the remaining branches are mutually exclusive and exhaustive
# for proper/point intervals (see test replay)
_ALLEN_CASE = """CASE
  WHEN s1 = s2 AND e1 = e2 THEN 'equals'
  WHEN s1 = s2 AND e1 < e2 THEN 'starts'
  WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
  WHEN e1 < s2 THEN 'before'
  WHEN e2 < s1 THEN 'after'
  WHEN e1 = s2 THEN 'meets'
  WHEN e2 = s1 THEN 'met_by'
  WHEN s1 < s2 AND e1 > e2 THEN 'contains'
  WHEN s1 > s2 AND e1 < e2 THEN 'during'
  WHEN s1 < s2 AND e1 = e2 THEN 'finished_by'
  WHEN s1 > s2 AND e1 = e2 THEN 'finishes'
  WHEN s1 < s2 THEN 'overlaps'
  ELSE 'overlapped_by'
END"""


@register(
    "allen_interval_census",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type,
             CAST(epoch_us(ts_min) AS BIGINT) AS lo,
             CAST(epoch_us(ts_max) AS BIGINT) AS hi
      FROM (
        SELECT user_id, event_type, MIN(ts) AS ts_min, MAX(ts) AS ts_max
        FROM events GROUP BY user_id, event_type
      )
    ),
    pr AS (
      SELECT a.user_id,
             a.lo AS s1, a.hi AS e1, b.lo AS s2, b.hi AS e2
      FROM iv a JOIN iv b
        ON b.user_id = a.user_id AND b.event_type > a.event_type
    )
    SELECT {_ALLEN_CASE} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM pr GROUP BY relation ORDER BY relation
    """,
    doc="Allen interval-algebra relation census (Allen 1983, CACM) over "
        "per-(user, event-type) activity spans: each user contributes "
        "the pairwise temporal relations between their event-type "
        "spans, classified by the full 13-relation CASE ladder (before/"
        "meets/overlaps/starts/during/finishes/equals + inverses) on "
        "exact integer microseconds — the temporal-logic vocabulary "
        "interval joins cannot express (an interval join answers "
        "'overlap?', this answers 'HOW do they relate'). The identical "
        "ladder runs in both engines, so the census hash-matches. "
        "Scale: spans are one user-keyed aggregate; pairs explode only "
        "within user x 5 event types (<= 10 pairs/user), then one "
        "13-group rollup — the same bounded-fanout discipline as the "
        "session-pair ops",
)
def q_allen_interval_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    iv = (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max"))
        .select(
            "user_id", "event_type",
            F.expr("unix_micros(cast(ts_min as timestamp))").alias("lo"),
            F.expr("unix_micros(cast(ts_max as timestamp))").alias("hi"),
        )
    )
    a = iv.select("user_id", F.col("event_type").alias("ta"),
                  F.col("lo").alias("s1"), F.col("hi").alias("e1"))
    b = iv.select("user_id", F.col("event_type").alias("tb"),
                  F.col("lo").alias("s2"), F.col("hi").alias("e2"))
    pr = a.join(b, ["user_id"]).filter(F.col("tb") > F.col("ta"))
    return (
        pr.select("user_id", F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# LSH band planner: S-curve error integral in pure polynomial arithmetic
# ---------------------------------------------------------------------------

def _scurve_sql(b: int, r: int) -> str:
    """P(s) = 1 - (1 - s^r)^b with r, b in {1,2,4,8,16} as explicit
    squaring chains — plain double multiplication, no pow()."""
    def sq_chain(base: str, n: int) -> str:
        # n is a power of two: chain of squarings
        expr = base
        while n > 1:
            expr = f"({expr} * {expr})"
            n //= 2
        return expr

    sr = sq_chain("s", r)
    one_minus = f"(1.0 - {sr})"
    return f"(1.0 - {sq_chain(one_minus, b)})"


def _lsh_planner_oracle() -> str:
    branches = "\n".join(
        f"WHEN b = {b} THEN {_scurve_sql(b, 16 // b)}"
        for b in (1, 2, 4, 8, 16)
    )
    return f"""
    WITH cfg AS (
      SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS b
    ),
    grid AS (
      SELECT b, CAST(16 / b AS BIGINT) AS r,
             (2 * CAST(k AS DOUBLE) + 1.0) / 200.0 AS s
      FROM cfg, (SELECT unnest(range(0, 100)) AS k) t
    ),
    p AS (
      SELECT b, r, s,
             CASE {branches} END AS prob
      FROM grid
    ),
    terms AS (
      SELECT b, r,
             CASE WHEN s < 0.5
                  THEN CAST(floor(prob * 10000000) AS BIGINT)
                  ELSE 0 END AS fp,
             CASE WHEN s >= 0.5
                  THEN CAST(floor((1.0 - prob) * 10000000) AS BIGINT)
                  ELSE 0 END AS fn
      FROM p
    )
    SELECT b AS bands, r AS rows_per_band,
           CAST(SUM(fp) AS BIGINT) AS fp_area_e9,
           CAST(SUM(fn) AS BIGINT) AS fn_area_e9,
           CAST(SUM(fp) + SUM(fn) AS BIGINT) AS total_error_e9
    FROM terms GROUP BY b, r
    ORDER BY total_error_e9, bands
    """


@register(
    "lsh_band_planner",
    oracle=_lsh_planner_oracle(),
    doc="LSH band/row planner (Leskovec-Rajaraman-Ullman ch. 3 S-curve "
        "analysis): for every (bands, rows) split of a 16-hash MinHash "
        "signature, the collision probability P(s) = 1-(1-s^r)^b is "
        "integrated on a 100-point midpoint grid into false-positive "
        "area (below the 0.5 similarity target) and false-negative area "
        "(above), ranking the splits by total error — the planner that "
        "picks minhash_dedup's banding. ALL arithmetic is plain double "
        "multiplication: r and b are powers of two, so s^r and (1-s^r)^b "
        "are explicit squaring chains (NO pow/exp/ln anywhere — the one "
        "transcendental-free way to cross-engine-pin an S-curve), each "
        "grid term floored to e7 (x100 points = e9 area units) before "
        "the exact integer sum. Scale: a 500-row constant-space "
        "computation — the planner is free at any data scale; it reads "
        "no tables at all",
)
def q_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = spark.range(5).select(
        F.expr("cast(shiftleft(1, cast(id as int)) as long)").alias("b")
    )
    grid = cfg.crossJoin(spark.range(100).select(F.col("id").alias("k")))
    s = (2.0 * F.col("k").cast("double") + 1.0) / 200.0
    p = grid.select(
        "b", F.expr("cast(16 / b as bigint)").alias("r"),
        s.alias("s"),
    )
    branches = " ".join(
        f"WHEN b = {b} THEN {_scurve_sql(b, 16 // b)}"
        for b in (1, 2, 4, 8, 16)
    )
    p = p.withColumn("prob", F.expr(f"CASE {branches} END"))
    terms = p.select(
        "b", "r",
        F.when(F.col("s") < 0.5,
               F.floor(F.col("prob") * 10000000).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("fp"),
        F.when(F.col("s") >= 0.5,
               F.floor((1.0 - F.col("prob")) * 10000000).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("fn"),
    )
    return (
        terms.groupBy(F.col("b").alias("bands"),
                      F.col("r").alias("rows_per_band"))
        .agg(
            F.sum("fp").cast("long").alias("fp_area_e9"),
            F.sum("fn").cast("long").alias("fn_area_e9"),
            (F.sum("fp") + F.sum("fn")).cast("long")
            .alias("total_error_e9"),
        )
        .orderBy("total_error_e9", "bands")
    )


# ---------------------------------------------------------------------------
# l-diversity audit (sensitive-attribute diversity per QI group)
# ---------------------------------------------------------------------------

@register(
    "l_diversity_audit",
    oracle="""
    WITH e AS (
      SELECT user_id % 10 AS qi_user,
             (epoch_us(ts) // 3600000000) % 24 // 6 AS qi_slot,
             event_type AS sensitive
      FROM events
    ),
    c AS (
      SELECT qi_user, qi_slot, sensitive,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM e GROUP BY qi_user, qi_slot, sensitive
    ),
    ct AS (
      SELECT qi_user, qi_slot, c,
             CAST(floor(
               -(c / CAST(SUM(c) OVER (PARTITION BY qi_user, qi_slot)
                          AS DOUBLE))
               * ln(c / CAST(SUM(c) OVER (PARTITION BY qi_user, qi_slot)
                             AS DOUBLE)) * 1000000) AS BIGINT) AS t
      FROM c
    ),
    g AS (
      SELECT qi_user, qi_slot,
             CAST(COUNT(*) AS BIGINT) AS l,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS entropy_e6
      FROM ct GROUP BY qi_user, qi_slot
    )
    SELECT l, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS rows_covered,
           CAST(MIN(entropy_e6) AS BIGINT) AS min_entropy_e6,
           CAST(SUM(CASE WHEN entropy_e6 < 693147 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_ln2
    FROM g GROUP BY l ORDER BY l
    """,
    doc="l-diversity audit (Machanavajjhala et al., ICDE'06) — the "
        "privacy gate k-anonymity cannot express: a QI group can be "
        "large (k-anonymous) yet reveal everyone's sensitive value if "
        "the group is homogeneous. Quasi-identifiers = (user bucket, "
        "6h slot), sensitive = event_type; per group, distinct-l and "
        "entropy l-diversity (each -p·ln p term floored to e6 BEFORE "
        "the sum, so the group entropy is an exact long; 693147 = "
        "floor(ln(2)*1e6) flags groups below entropy-2-diversity). "
        "Output: the group census by distinct-l. Scale: one "
        "(qi, sensitive) count over the scan, one windowed per-group "
        "normalization over the tiny count relation, one rollup",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        (F.col("user_id") % 10).alias("qi_user"),
        F.expr("(unix_micros(cast(ts as timestamp)) div 3600000000)"
               " % 24 div 6").alias("qi_slot"),
        F.col("event_type").alias("sensitive"),
    )
    c = e.groupBy("qi_user", "qi_slot", "sensitive").agg(
        F.count("*").cast("long").alias("c")
    )
    wg = Window.partitionBy("qi_user", "qi_slot")
    p = F.col("c") / F.sum("c").over(wg).cast("double")
    term = F.floor(-p * F.log(p) * 1000000).cast("long")
    g = (
        c.select("qi_user", "qi_slot", "c", term.alias("t"))
        .groupBy("qi_user", "qi_slot")
        .agg(
            F.count("*").cast("long").alias("l"),
            F.sum("c").cast("long").alias("n"),
            F.sum("t").cast("long").alias("entropy_e6"),
        )
    )
    return (
        g.groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("n").cast("long").alias("rows_covered"),
            F.min("entropy_e6").cast("long").alias("min_entropy_e6"),
            F.sum(F.when(F.col("entropy_e6") < 693147, 1).otherwise(0))
            .cast("long").alias("n_below_ln2"),
        )
        .orderBy("l")
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition of the daily revenue series
# ---------------------------------------------------------------------------

@register(
    "stl_lite_decomposition",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY day
    ),
    t AS (
      SELECT day, cents,
             (CAST(day - DATE '1970-01-01' AS BIGINT) + 3) % 7 AS dow,
             CAST(SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
               AS s7,
             CAST(COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
               AS c7
      FROM d
    ),
    dt AS (
      SELECT day, dow, cents, cents - s7 // 7 AS detr,
             (cents - s7 // 7) // 10000 AS dk
      FROM t WHERE c7 = 7
    ),
    s AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(detr) AS BIGINT) // COUNT(*) AS seasonal_cents,
             CAST(SUM(dk) AS BIGINT) // COUNT(*) AS sk
      FROM dt GROUP BY dow
    ),
    r AS (
      SELECT dt.dow,
             CAST(SUM((dt.dk - s.sk) * (dt.dk - s.sk)) AS BIGINT)
               AS ss_resid,
             CAST(SUM(dt.dk * dt.dk) AS BIGINT) AS ss_detr
      FROM dt JOIN s ON s.dow = dt.dow
      GROUP BY dt.dow
    )
    SELECT s.dow, s.n_days, s.seasonal_cents,
           r.ss_resid, r.ss_detr,
           CASE WHEN r.ss_detr = 0 THEN 0
                ELSE CAST(floor(
                  (CAST(r.ss_detr AS DOUBLE) - r.ss_resid)
                  / CAST(r.ss_detr AS DOUBLE) * 1000000) AS BIGINT)
           END AS seasonal_share_ppm
    FROM s JOIN r ON r.dow = s.dow
    ORDER BY s.dow
    """,
    doc="STL-lite seasonal decomposition (Cleveland's STL shape with "
        "moving-average trend, RB Cleveland et al. 1990) of the daily "
        "order-revenue series: trend = 7-day centered moving average "
        "(exact integer cents, s7 div 7 — interior days only, the c7=7 "
        "guard), detrended = cents - trend, per-day-of-week seasonal "
        "component = exact integer mean of detrended cents, and per-dow "
        "variance share explained by seasonality (1 - SS_resid/SS_detr "
        "at ppm). Sums of squares run on detr div 1e4 (exact integer "
        "rescale, identical in both engines) so SS stays < 2^63 over "
        "the multi-year daily series; the share is one double division "
        "over the two exact longs. dow = (epoch_day + 3) % 7 — pure "
        "integer, no engine calendar. Scale: one date rollup over the "
        "fact scan; every window runs over the daily series (bounded "
        "by the calendar, not the data); global-window-free via "
        "bounded_window",
)
def q_stl_lite_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("cents")
    )
    w7 = bounded_window().orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day", "cents",
        ((epoch_day("day") + 3)
         % 7).cast("long").alias("dow"),
        F.sum("cents").over(w7).cast("long").alias("s7"),
        F.count("*").over(w7).cast("long").alias("c7"),
    )
    dt = t.filter(F.col("c7") == 7).select(
        "day", "dow", "cents",
        (F.col("cents") - F.expr("s7 div 7")).cast("long").alias("detr"),
        F.expr("(cents - s7 div 7) div 10000").cast("long").alias("dk"),
    ).localCheckpoint()  # consumed by the seasonal mean AND the residual
    s = dt.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("sum(detr) div count(*)").cast("long")
        .alias("seasonal_cents"),
        F.expr("sum(dk) div count(*)").cast("long").alias("sk"),
    )
    r = (
        dt.join(F.broadcast(s), "dow")
        .groupBy("dow")
        .agg(
            F.sum(
                (F.col("dk") - F.col("sk")) * (F.col("dk") - F.col("sk"))
            ).cast("long").alias("ss_resid"),
            F.sum(F.col("dk") * F.col("dk")).cast("long").alias("ss_detr"),
        )
    )
    share = F.when(F.col("ss_detr") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (F.col("ss_detr").cast("double") - F.col("ss_resid"))
            / F.col("ss_detr").cast("double") * 1000000
        ).cast("long")
    )
    return (
        s.join(r, "dow")
        .select("dow", "n_days", "seasonal_cents", "ss_resid", "ss_detr",
                share.alias("seasonal_share_ppm"))
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# MAP@10 of the fixed-point retrieval (completes the ranking-eval family)
# ---------------------------------------------------------------------------

@register(
    "map_at_10_eval",
    oracle="""
    WITH fx AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM fx WHERE vec_id < 8),
    sc AS (
      SELECT q.query_id, q.qlabel, d.vec_id AS doc_id, d.label,
             CAST(list_sum(list_transform(range(0, 64),
               k -> q.qv[1 + k] * d.v[1 + k])) AS BIGINT) AS dot
      FROM q JOIN fx d ON d.vec_id <> q.query_id
    ),
    top AS (
      SELECT query_id, qlabel, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, doc_id) AS rn
      FROM sc QUALIFY rn <= 10
    ),
    hits AS (
      SELECT query_id, rn,
             CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                  OVER (PARTITION BY query_id ORDER BY rn) AS BIGINT)
               AS h,
             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
      FROM top
    ),
    ap AS (
      SELECT query_id,
             CAST(SUM(rel) AS BIGINT) AS n_hits,
             CAST(COALESCE(SUM(CASE WHEN rel = 1
                      THEN h * 1000000000 // rn ELSE 0 END), 0)
                  AS BIGINT) AS sum_prec_e9
      FROM hits GROUP BY query_id
    )
    SELECT query_id, n_hits,
           CASE WHEN n_hits = 0 THEN 0
                ELSE sum_prec_e9 // n_hits END AS ap_e9
    FROM ap ORDER BY query_id
    """,
    doc="MAP@10 (mean-average-precision components) of the exact "
        "fixed-point retrieval against label-match relevance — the "
        "third standard ranking metric next to the staged NDCG@10 and "
        "MRR: per query, precision@r at each relevant rank (running-hit "
        "count over rank, an exact integer e9-division per term, summed "
        "as longs) averaged over hits. AP differs from NDCG in "
        "penalizing late hits multiplicatively, which is why eval "
        "suites report both. Scale: identical shape to ndcg_ranking_"
        "eval — bounded query panel broadcast, WindowGroupLimit top-10, "
        "everything after on 80 rows",
)
def q_map_at_10_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    _d, _q, top = _panel_retrieval_top10(spark, sf_dir)
    rel = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    wrun = Window.partitionBy("query_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hits = top.select(
        "query_id", "rn", rel.alias("rel"),
        F.sum(rel).over(wrun).cast("long").alias("h"),
    )
    ap = hits.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_hits"),
        F.coalesce(
            F.sum(
                F.when(F.col("rel") == 1,
                       F.expr("h * 1000000000 div rn"))
                .otherwise(F.lit(0).cast("long"))
            ), F.lit(0)
        ).cast("long").alias("sum_prec_e9"),
    )
    return ap.select(
        "query_id", "n_hits",
        F.when(F.col("n_hits") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("sum_prec_e9 div n_hits")).cast("long")
        .alias("ap_e9"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Fano-factor burstiness of event arrivals (point-process diagnostic)
# ---------------------------------------------------------------------------

@register(
    "fano_burstiness_by_type",
    oracle="""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hour_no,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hour_no
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM h GROUP BY event_type
    )
    SELECT event_type, n_hours, s1, s2,
           CAST(floor(
             (CAST(n_hours AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(n_hours AS DOUBLE) * s1) * 1000000) AS BIGINT)
             AS fano_e6
    FROM m ORDER BY event_type
    """,
    doc="Fano-factor burstiness of hourly event arrivals per type "
        "(variance-to-mean ratio; Fano 1947, the standard "
        "overdispersion test for point processes): F = 1 for a Poisson "
        "stream, > 1 = bursty, < 1 = regular — the load-model "
        "diagnostic capacity planning needs before trusting a Poisson "
        "assumption. Hourly counts and both moment sums are exact "
        "int64 over ACTIVE hours; the ratio (n*s2 - s1^2)/(n*s1) is "
        "ONE double expression over the longs, floored to e6. Scale: "
        "one (type, hour) count over the scan, one 5-row rollup — two "
        "map-side-combinable exchanges",
)
def q_fano_burstiness_by_type(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
        .alias("hour_no"),
    ).agg(F.count("*").cast("long").alias("c"))
    m = h.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    nd = F.col("n_hours").cast("double")
    s1d = F.col("s1").cast("double")
    fano = F.floor(
        (nd * F.col("s2") - s1d * F.col("s1")) / (nd * F.col("s1"))
        * 1000000
    ).cast("long")
    return m.select(
        "event_type", "n_hours", "s1", "s2", fano.alias("fano_e6")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Character-level entropy per language (corpus compressibility)
# ---------------------------------------------------------------------------

@register(
    "char_entropy_by_lang",
    oracle="""
    WITH ch AS (
      SELECT lang, c.ch
      FROM documents, unnest(string_split(lower(text), '')) AS c(ch)
      WHERE length(c.ch) = 1
    ),
    cnt AS (
      SELECT lang, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM ch GROUP BY lang, ch
    ),
    t AS (
      SELECT lang, c,
             CAST(floor(
               -(c / CAST(SUM(c) OVER (PARTITION BY lang) AS DOUBLE))
               * ln(c / CAST(SUM(c) OVER (PARTITION BY lang) AS DOUBLE))
               * 1000000) AS BIGINT) AS term
      FROM cnt
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_symbols,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(SUM(term) AS BIGINT) AS entropy_nats_e6,
           CAST(floor(CAST(SUM(term) AS DOUBLE) / ln(2.0)) AS BIGINT)
             AS entropy_bits_e6
    FROM t GROUP BY lang ORDER BY lang
    """,
    doc="Character-level Shannon entropy per language over the "
        "lowercased corpus — the compressibility floor a char-level "
        "tokenizer or compressor can hit (English prose ~4.1 bits/"
        "char at order-0), and a cheap mojibake/encoding-shift alarm "
        "(entropy jumps when a shard's bytes stop being text): per-"
        "(lang, symbol) exact counts, each -p·ln p term floored to e6 "
        "BEFORE the sum (order-free long sum), nats and bits (one "
        "double division by ln 2 at the end). Scale: the char explode "
        "is scan-local and feeds one map-side-combinable count; the "
        "entropy runs on the tiny (lang, symbol) relation",
)
def q_char_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ch = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "")).alias("ch"),
    ).filter(F.length("ch") == 1)
    cnt = ch.groupBy("lang", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    wl = Window.partitionBy("lang")
    p = F.col("c") / F.sum("c").over(wl).cast("double")
    t = cnt.select(
        "lang", "c",
        F.floor(-p * F.log(p) * 1000000).cast("long").alias("term"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_symbols"),
        F.sum("c").cast("long").alias("n_chars"),
        F.sum("term").cast("long").alias("entropy_nats_e6"),
        F.floor(
            F.sum("term").cast("double") / F.log(F.lit(2.0))
        ).cast("long").alias("entropy_bits_e6"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Perceptual average-hash image dedup through the REAL PNG codec
# ---------------------------------------------------------------------------

@register(
    "image_ahash_pairs",
    oracle="""
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
    blk AS (
      SELECT img, (y // 2) * 8 + (x // 2) AS blk,
             CAST(SUM(v) AS BIGINT) AS bs
      FROM px GROUP BY img, (y // 2) * 8 + (x // 2)
    ),
    tot AS (
      SELECT img, CAST(SUM(bs) AS BIGINT) AS ts FROM blk GROUP BY img
    ),
    bits AS (
      SELECT blk.img, blk.blk,
             CASE WHEN blk.bs * 64 > tot.ts THEN 1 ELSE 0 END AS bit
      FROM blk JOIN tot ON tot.img = blk.img
    )
    SELECT a.img AS img_a, b.img AS img_b,
           CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                AS BIGINT) AS hamming
    FROM bits a JOIN bits b ON b.blk = a.blk AND b.img > a.img
    GROUP BY a.img, b.img
    ORDER BY img_a, img_b
    """,
    doc="Perceptual average-hash (aHash) near-duplicate image pairs "
        "with the REAL PNG codec in the loop: 24 deterministic 16x16 "
        "grayscale images (md5 pixel formula) are ENCODED to actual "
        "PNG bytes and DECODED back by the clean-room "
        "functions/imagecodec.py inside one mapInPandas stage; 8x8 "
        "block sums of the DECODED pixels feed the classic aHash bit "
        "rule (block above image mean — compared exactly as bs*64 > "
        "total, pure integers), and all 276 pairwise 64-bit Hamming "
        "distances come from a block-aligned self-join. The DuckDB "
        "oracle replays the pixel FORMULA only — it never sees a PNG — "
        "so a hash match certifies encode->decode losslessness AND the "
        "hash pipeline (the image twin of wav_roundtrip_frame_energy). "
        "Scale: the codec runs where the bytes sit; per image the "
        "output is 64 block rows, so the pair join touches sketches, "
        "never pixels — the standard pHash-dedup shape at fleet scale",
)
def q_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from gan_deeplearning4j_spark.functions.imagecodec import (
            decode_png,
            encode_png,
        )

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
                dec = decode_png(encode_png(px)).squeeze()
                for by in range(8):
                    for bx in range(8):
                        bs = int(
                            dec[2 * by:2 * by + 2,
                                2 * bx:2 * bx + 2].astype(np.int64).sum()
                        )
                        rows.append((img, by * 8 + bx, bs))
            yield pd.DataFrame(rows, columns=["img", "blk", "bs"])

    blk = spark.range(24).repartition(4).mapInPandas(
        gen, "img long, blk long, bs long"
    )
    tot = blk.groupBy("img").agg(F.sum("bs").cast("long").alias("ts"))
    bits = blk.join(tot, "img").select(
        "img", "blk",
        F.when(F.col("bs") * 64 > F.col("ts"), 1).otherwise(0)
        .alias("bit"),
    ).localCheckpoint()  # both sides of the pair join
    a = bits.select(F.col("img").alias("img_a"), "blk",
                    F.col("bit").alias("bit_a"))
    b = bits.select(F.col("img").alias("img_b"),
                    F.col("blk").alias("blk_b"),
                    F.col("bit").alias("bit_b"))
    return (
        a.join(F.broadcast(b), (F.col("blk_b") == F.col("blk"))
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
# Brandes single-source dependency (betweenness accumulation from the hub)
# ---------------------------------------------------------------------------

def _brandes_oracle(maxh: int = 4) -> str:
    term = ("CAST(floor(CAST(s.paths AS DOUBLE)"
            " * (1000000000 + b{next}.delta_e9) / w.paths)"
            " AS BIGINT)")
    backs = [f"""
    back{maxh} AS (
      SELECT node, CAST(0 AS BIGINT) AS delta_e9
      FROM sig WHERE dist = {maxh})"""]
    for h in range(maxh - 1, -1, -1):
        backs.append(f"""
    back{h} AS (
      SELECT s.node,
             CAST(COALESCE(SUM({term.format(next=h + 1)}), 0) AS BIGINT)
               AS delta_e9
      FROM sig s
      LEFT JOIN und u ON u.node = s.node
      LEFT JOIN sig w ON w.node = u.nb AND w.dist = {h + 1}
      LEFT JOIN back{h + 1} b{h + 1} ON b{h + 1}.node = w.node
      WHERE s.dist = {h}
      GROUP BY s.node)""")
    unions = "\n      UNION ALL ".join(
        f"SELECT * FROM back{h}" for h in range(maxh + 1)
    )
    return f"""
    WITH RECURSIVE
    b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                        AND c.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    und AS (
      SELECT pa AS node, pb AS nb FROM e
      UNION ALL SELECT pb, pa FROM e
    ),
    hub AS (
      SELECT node FROM und GROUP BY node
      ORDER BY COUNT(*) DESC, node LIMIT 1
    ),
    walk(node, hop, paths) AS (
      SELECT node, 0, CAST(1 AS BIGINT) FROM hub
      UNION ALL
      SELECT u.nb, w.hop + 1, CAST(SUM(w.paths) AS BIGINT)
      FROM walk w JOIN und u ON u.node = w.node
      WHERE w.hop < {maxh} GROUP BY u.nb, w.hop + 1
    ),
    dist AS (
      SELECT node, CAST(MIN(hop) AS BIGINT) AS dist
      FROM walk GROUP BY node
    ),
    sig AS (
      SELECT w.node, d.dist, CAST(w.paths AS BIGINT) AS paths
      FROM walk w JOIN dist d ON d.node = w.node AND d.dist = w.hop
    ),{",".join(backs)},
    allback AS ({unions})
    SELECT s.node, s.dist, s.paths AS sigma, ab.delta_e9
    FROM sig s JOIN allback ab ON ab.node = s.node
    ORDER BY ab.delta_e9 DESC, s.node
    LIMIT 20
    """


@register(
    "brandes_dependency_hub",
    oracle=_brandes_oracle(),
    doc="Brandes single-source betweenness dependency (Brandes 2001, "
        "J. Math. Sociol.) from the co-purchase hub: forward BFS "
        "carries EXACT shortest-path counts sigma (a walk of length "
        "dist(v) cannot revisit, so per-level walk-count sums ARE "
        "sigma), then the backward accumulation delta(v) = sum over "
        "DAG successors w of sigma_v/sigma_w * (1 + delta_w) runs as a "
        "fixed unroll over the 4 hop levels (the lpa/bradley-terry "
        "chained-CTE pattern), each per-edge term ONE double expression "
        "over exact longs floored to e9 before the order-free sum "
        "(sigma_w >= sigma_v keeps every ratio <= 1). Top-20 "
        "dependency scores = the hub's betweenness contribution — the "
        "centrality family member (pagerank/HITS/k-core/CC live) that "
        "needs path COUNTING, not just reachability. Scale: O(hops) "
        "edge-keyed shuffles forward, O(hops) backward, frontier never "
        "materializes pairs; the full-betweenness extension is the "
        "standard sampled-sources sum over this exact kernel",
)
def q_brandes_dependency_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, undirected

    maxh = 4
    und = undirected(
        co_purchase_pairs(_t(spark, sf_dir, "lineitem")), "node", "nb"
    ).localCheckpoint(eager=True)  # consumed per forward + backward level

    hub = (
        und.groupBy("node").agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), "node").limit(1).select("node")
    )
    # forward: per-level (node, dist, sigma); walks of length == dist
    # are exactly the shortest paths, so level-frontier path-count sums
    # are sigma without any anti-join correction inside the sum
    sig = hub.select(
        "node", F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("paths"),
    ).localCheckpoint(eager=True)
    frontier = sig
    for h in range(1, maxh + 1):
        nxt = (
            frontier.join(und, "node")
            .groupBy(F.col("nb").alias("node"))
            .agg(F.sum("paths").cast("long").alias("paths"))
            .join(sig.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("dist"), "paths")
        )
        sig = sig.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    # backward: fixed unroll, deepest level first
    back = sig.filter(F.col("dist") == maxh).select(
        "node", F.lit(0).cast("long").alias("delta_e9")
    )
    allback = back
    for h in range(maxh - 1, -1, -1):
        succ = (
            sig.filter(F.col("dist") == h + 1)
            .select(F.col("node").alias("wnode"),
                    F.col("paths").alias("wpaths"))
            .join(back.withColumnRenamed("node", "wnode"), "wnode")
        )
        term = F.floor(
            F.col("paths").cast("double")
            * (F.lit(1000000000) + F.col("delta_e9")) / F.col("wpaths")
        ).cast("long")
        lvl = (
            sig.filter(F.col("dist") == h)
            .join(und, "node", "left")
            .join(succ, F.col("nb") == F.col("wnode"), "left")
            .groupBy("node")
            .agg(
                F.coalesce(F.sum(term), F.lit(0)).cast("long")
                .alias("delta_e9")
            )
        )
        back = lvl.localCheckpoint(eager=True)
        allback = allback.unionByName(back)
    return (
        sig.join(allback, "node")
        .select("node", "dist", F.col("paths").alias("sigma"), "delta_e9")
        .orderBy(F.desc("delta_e9"), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices (index-number family)
# ---------------------------------------------------------------------------

@register(
    "price_index_fisher",
    oracle="""
    WITH py AS (
      SELECT l_partkey AS part,
             CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS y,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS c,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY part, y
    ),
    up AS (
      SELECT part, y, q, c * 1000000 // q AS p_e6 FROM py WHERE q > 0
    ),
    pair AS (
      SELECT b.y + 1 AS year, b.part,
             b.p_e6 AS p0, t.p_e6 AS p1, b.q AS q0, t.q AS q1
      FROM up b JOIN up t ON t.part = b.part AND t.y = b.y + 1
    ),
    agg AS (
      SELECT year, CAST(COUNT(*) AS BIGINT) AS n_common_parts,
             CAST(SUM(p1 * q0) AS BIGINT) AS l_num,
             CAST(SUM(p0 * q0) AS BIGINT) AS l_den,
             CAST(SUM(p1 * q1) AS BIGINT) AS p_num,
             CAST(SUM(p0 * q1) AS BIGINT) AS p_den
      FROM pair GROUP BY year
    )
    SELECT year, n_common_parts,
           CAST(floor(CAST(l_num AS DOUBLE) / l_den * 1000000) AS BIGINT)
             AS laspeyres_ppm,
           CAST(floor(CAST(p_num AS DOUBLE) / p_den * 1000000) AS BIGINT)
             AS paasche_ppm,
           CAST(floor(sqrt((CAST(l_num AS DOUBLE) / l_den)
                           * (CAST(p_num AS DOUBLE) / p_den)) * 1000000)
                AS BIGINT) AS fisher_ppm
    FROM agg ORDER BY year
    """,
    doc="Laspeyres, Paasche and Fisher ideal price indices (the CPI "
        "index-number family; Fisher 1922) between consecutive ship "
        "years over parts traded in BOTH years: per (part, year) unit "
        "values quantized to e6 cents-per-unit by exact integer "
        "division, then the four basket sums Σp·q are exact int64 "
        "(quantized prices x integer quantities — no rational-sum "
        "hazard), and each index is ONE double expression over two "
        "exact longs (divide, multiply, sqrt — all correctly-rounded "
        "IEEE ops, no transcendental), floored to ppm. Fisher = "
        "geometric mean of the other two, so the output self-checks "
        "L >= F >= P or the reverse. Scale: one (part, year) rollup "
        "over the fact scan, one part-keyed self-join at part grain, "
        "one year rollup — the fact table shuffles once",
)
def q_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year(F.col("l_shipdate").cast("date")).cast("long").alias("y"),
    ).agg(
        F.sum(cents_nonneg(F.col("l_extendedprice")))
        .cast("long").alias("c"),
        F.sum(F.round(F.col("l_quantity"), 0).cast("long")).cast("long")
        .alias("q"),
    ).filter(F.col("q") > 0)
    up = py.select(
        "part", "y", "q",
        F.expr("c * 1000000 div q").cast("long").alias("p_e6"),
    ).localCheckpoint()  # both sides of the year self-join
    b = up.select("part", F.col("y").alias("yb"), F.col("p_e6").alias("p0"),
                  F.col("q").alias("q0"))
    t = up.select("part", F.col("y").alias("yt"), F.col("p_e6").alias("p1"),
                  F.col("q").alias("q1"))
    pair = b.join(t, ["part"]).filter(
        F.col("yt") == F.col("yb") + 1
    ).select((F.col("yb") + 1).alias("year"), "p0", "p1", "q0", "q1")
    agg = pair.groupBy("year").agg(
        F.count("*").cast("long").alias("n_common_parts"),
        F.sum(F.col("p1") * F.col("q0")).cast("long").alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).cast("long").alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).cast("long").alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).cast("long").alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den")
    paas = F.col("p_num").cast("double") / F.col("p_den")
    return agg.select(
        "year", "n_common_parts",
        F.floor(lasp * 1000000).cast("long").alias("laspeyres_ppm"),
        F.floor(paas * 1000000).cast("long").alias("paasche_ppm"),
        F.floor(F.sqrt(lasp * paas) * 1000000).cast("long")
        .alias("fisher_ppm"),
    ).orderBy("year")


# ---------------------------------------------------------------------------
# Good-Turing smoothing table (counts-of-counts + discounted estimates)
# ---------------------------------------------------------------------------

@register(
    "good_turing_smoothing",
    oracle="""
    WITH ws AS (
      SELECT string_split(text, ' ') AS ws FROM documents
    ),
    tri AS (
      SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
      FROM ws, unnest(range(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 3
    ),
    tf AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM tri GROUP BY g
    ),
    nr AS (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf
      WHERE r <= 10 GROUP BY r
    ),
    tot AS (
      SELECT CAST(SUM(r) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM tf
    )
    SELECT nr.r, nr.n_r,
           CAST(COALESCE(
             (nr.r + 1) * nx.n_r * 1000000 // nr.n_r, 0) AS BIGINT)
             AS r_star_e6,
           CAST(nr.n_r * nr.r * 1000000 // tot.n_tokens AS BIGINT)
             AS mass_share_e6,
           tot.n_tokens, tot.vocab
    FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1
    CROSS JOIN tot
    ORDER BY nr.r
    """,
    doc="Good-Turing frequency smoothing table (Good 1953; the "
        "Gale-Sampson 'simple GT' inputs) over word TRIGRAM types — "
        "the unit with a real Zipf tail in this corpus (the 30-word "
        "unigram vocabulary has min frequency ~26 even at sf0.01, so a "
        "unigram table would be empty below the r<=10 window; trigram "
        "types number 16k+ with thousands of hapaxes at every SF): "
        "counts-of-counts N_r for r<=10, the discounted estimate "
        "r* = (r+1)·N_{r+1}/N_r at e6 (exact integer division; 0 when "
        "N_{r+1} is empty, the standard cutoff), and each frequency "
        "class's share of total trigram mass. Row r=1 doubles as the "
        "hapax table: N_1/N is the Good-Turing estimate of UNSEEN "
        "probability mass — the number every vocabulary-sizing and "
        "contamination analysis wants. Completes the LM-smoothing "
        "family next to kneser_ney_bigram_lm. Scale: trigrams are "
        "scan-side array windows (no self-join); one type count, one "
        "10-row counts-of-counts rollup; the self-join runs on 10 rows",
)
def q_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tri = (
        docs.select(F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))"
                )
            ).alias("g")
        )
    )
    tf = (
        tri.groupBy("g").agg(F.count("*").cast("long").alias("r"))
        .localCheckpoint()  # consumed by nr AND tot
    )
    nr = tf.filter(F.col("r") <= 10).groupBy("r").agg(
        F.count("*").cast("long").alias("n_r")
    )
    tot = tf.agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
    )
    nx = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("nx"))
    return (
        nr.join(F.broadcast(nx), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r", "n_r",
            F.coalesce(
                F.expr("(r + 1) * nx * 1000000 div n_r"), F.lit(0)
            ).cast("long").alias("r_star_e6"),
            F.expr("n_r * r * 1000000 div n_tokens").cast("long")
            .alias("mass_share_e6"),
            "n_tokens", "vocab",
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# RANSAC robust trend fit (deterministic md5 trials, integer inlier test)
# ---------------------------------------------------------------------------

@register(
    "ransac_trend_fit",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS x,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY x
    ),
    ix AS (
      SELECT x, y, ROW_NUMBER() OVER (ORDER BY x) - 1 AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(y) OVER () // COUNT(*) OVER () // 10 AS BIGINT)
               AS tol
      FROM d
    ),
    tr AS (
      SELECT t.t,
             CAST('0x' || substr(md5('ransac|' || CAST(t.t AS VARCHAR)
                                     || '|1'), 1, 15) AS BIGINT)
               % (SELECT MAX(n) FROM ix) AS i1,
             CAST('0x' || substr(md5('ransac|' || CAST(t.t AS VARCHAR)
                                     || '|2'), 1, 15) AS BIGINT)
               % (SELECT MAX(n) FROM ix) AS i2
      FROM (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS t) t
    ),
    mdl AS (
      SELECT tr.t, a.x AS x1, a.y AS y1,
             b.x - a.x AS dx, b.y - a.y AS dy
      FROM tr JOIN ix a ON a.i = tr.i1 JOIN ix b ON b.i = tr.i2
      WHERE tr.i1 <> tr.i2
    ),
    cnt AS (
      SELECT m.t, m.x1, m.dx, m.dy,
             CAST(SUM(CASE WHEN
               abs((p.y - m.y1) * m.dx - (p.x - m.x1) * m.dy)
               <= p.tol * abs(m.dx) THEN 1 ELSE 0 END) AS BIGINT)
               AS inliers
      FROM mdl m CROSS JOIN ix p
      GROUP BY m.t, m.x1, m.dx, m.dy
    )
    SELECT t AS trial, inliers,
           CAST(dy * 1000000 // dx AS BIGINT) AS slope_e6,
           CASE WHEN ROW_NUMBER() OVER (ORDER BY inliers DESC, t) = 1
                THEN 1 ELSE 0 END AS best
    FROM cnt ORDER BY trial
    """,
    doc="RANSAC robust line fit (Fischler & Bolles 1981, CACM) of the "
        "daily-revenue trend with DETERMINISTIC trials: 16 md5-seeded "
        "2-point samples (the established dyadic-hash discipline — no "
        "rand(), so both engines draw identical models), each scored by "
        "its inlier count where the inlier test is pure cross-"
        "multiplied int64: |(y-y1)dx - (x-x1)dy| <= tol·|dx| (no "
        "division anywhere; tol = 10% of mean daily cents by exact "
        "integer division). Output: all trials with slope_e6 and the "
        "argmax flag — the outlier-immune alternative to the OLS trend "
        "(ols_trend_daily) and the robust cousin of theil_sen_slope. "
        "Degenerate same-index trials are dropped identically in both "
        "engines. Scale: the fact collapses to day grain first; trials "
        "x days is 16·|calendar| cells — constant-bounded, never "
        "row-level; one broadcastable model table against the day scan",
)
def q_ransac_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60
    from .functions.windows import bounded_window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        epoch_day("o_orderdate").cast("long").alias("x")
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("y")
    )
    w = bounded_window().orderBy("x")
    wall = bounded_window().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ix = d.select(
        "x", "y",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        F.count("*").over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).cast("long").alias("sy"),
    ).select(
        "x", "y", "i", "n",
        F.expr("sy div n div 10").cast("long").alias("tol"),
    ).localCheckpoint()  # consumed by endpoints AND the scoring scan
    n_days = ix.agg(F.max("n").alias("nd"))
    tr = (
        spark.range(16).select(F.col("id").alias("t"))
        .crossJoin(F.broadcast(n_days))
        .select(
            "t",
            (portable_hash60(
                F.concat(F.lit("ransac|"), F.col("t").cast("string"),
                         F.lit("|1"))) % F.col("nd")).alias("i1"),
            (portable_hash60(
                F.concat(F.lit("ransac|"), F.col("t").cast("string"),
                         F.lit("|2"))) % F.col("nd")).alias("i2"),
        )
        .filter(F.col("i1") != F.col("i2"))
    )
    a = ix.select(F.col("i").alias("i1"), F.col("x").alias("x1"),
                  F.col("y").alias("y1"))
    b = ix.select(F.col("i").alias("i2"), F.col("x").alias("x2"),
                  F.col("y").alias("y2"))
    mdl = (
        tr.join(F.broadcast(a), "i1").join(F.broadcast(b), "i2")
        .select("t", "x1", "y1",
                (F.col("x2") - F.col("x1")).alias("dx"),
                (F.col("y2") - F.col("y1")).alias("dy"))
    )
    inlier = (
        F.abs((F.col("y") - F.col("y1")) * F.col("dx")
              - (F.col("x") - F.col("x1")) * F.col("dy"))
        <= F.col("tol") * F.abs(F.col("dx"))
    )
    cnt = (
        F.broadcast(mdl).crossJoin(ix)
        .groupBy("t", "x1", "dx", "dy")
        .agg(F.sum(F.when(inlier, 1).otherwise(0)).cast("long")
             .alias("inliers"))
    )
    wbest = bounded_window().orderBy(F.desc("inliers"), "t")
    return cnt.select(
        F.col("t").alias("trial"), "inliers",
        F.expr("dy * 1000000 div dx").cast("long").alias("slope_e6"),
        F.when(F.row_number().over(wbest) == 1, 1).otherwise(0)
        .alias("best"),
    ).orderBy("trial")


# ---------------------------------------------------------------------------
# Round-8 live additions (registered this round; the window math allows up
# to 16 new never-green entries on top of the 34-query formerly-staged wave)
# ---------------------------------------------------------------------------

# BPE tokenize promoted to hash-grade (the r7 verdict ask, mirroring how
# training was promoted in r7): ONE DuckDB recursion carries BOTH the
# training vocabulary (winner selection + merge, exactly _BPE_FIX_ORACLE)
# AND the full-corpus apply vocabulary, applying each round's winning merge
# to both with the same greedy left-to-right non-overlapping rule — i.e.
# the oracle replays train-then-tokenize end to end, not just the merges.
from .queries_r7 import (  # noqa: E402  (oracle building blocks, proven r7)
    _BPE_FIX_BEST,
    _BPE_FIX_MERGEAT,
    _BPE_FIX_MERGES,
    _BPE_FIX_NEWVOCAB,
    _BPE_FIX_WORDS,
)

_BPE_APPLY_NEWVOCAB = """
list_transform(apv, v ->
  struct_pack(w := v.w,
    s := flatten(list_transform(range(1, len(v.s) + 1), i ->
      CASE
        WHEN i < len(v.s) AND ({m_i}) THEN [b.l || b.r]
        WHEN i > 1 AND ({m_im1}) THEN []
        ELSE [v.s[i]]
      END))))
""".format(m_i=_BPE_FIX_MERGEAT.format(i="i"),
           m_im1=_BPE_FIX_MERGEAT.format(i="(i-1)"))

_BPE_TOKENIZE_ORACLE = f"""
WITH RECURSIVE
tok AS (
  SELECT t.w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE regexp_matches(t.w, '^[a-z]{{2,12}}$')
  GROUP BY t.w
  ORDER BY freq DESC, t.w
  LIMIT {_BPE_FIX_WORDS}
),
allw AS (
  SELECT DISTINCT t.w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE regexp_matches(t.w, '^[a-z]{{2,12}}$')
),
base AS (
  SELECT (SELECT list(struct_pack(
            f := freq,
            s := list_transform(range(1, length(word) + 1), i -> word[i])
          )) FROM tok) AS vocab,
         (SELECT list(struct_pack(
            w := word,
            s := list_transform(range(1, length(word) + 1), i -> word[i])
          )) FROM allw) AS apv
),
step AS (
  SELECT 0 AS it, vocab, apv FROM base
  UNION ALL
  SELECT it + 1,
         list_transform([{_BPE_FIX_BEST}], b -> {_BPE_FIX_NEWVOCAB})[1],
         list_transform([{_BPE_FIX_BEST}], b -> {_BPE_APPLY_NEWVOCAB})[1]
  FROM step
  WHERE it < {_BPE_FIX_MERGES}
),
tokn AS (
  SELECT u.t.w AS word, CAST(len(u.t.s) AS BIGINT) AS n_sub
  FROM (SELECT unnest(apv) AS t FROM step WHERE it = {_BPE_FIX_MERGES}) u
),
wl AS (
  SELECT lang, t.w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE regexp_matches(t.w, '^[a-z]{{2,12}}$')
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(n_sub) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
         AS subwords_per_word_ppk
FROM wl JOIN tokn USING (word)
GROUP BY lang ORDER BY lang
"""


@register(
    "bpe_tokenize_fertility_fixed",
    oracle=_BPE_TOKENIZE_ORACLE,
    doc="BPE tokenization promoted to hash-grade (the r7 verdict ask): "
        "the REAL distributed trainer (12 merges over the top-60 bounded "
        "vocabulary, driver_finish_rows=0 — same harness as "
        "bpe_train_merges_fixed) followed by the REAL apply path "
        "(operators/bpe.py apply_bpe — the greedy left-to-right "
        "non-overlapping Catalyst merge fold replayed in rank order over "
        "the full corpus vocabulary), then per-language subword counts "
        "and fertility in permille. The DuckDB oracle replays train AND "
        "tokenize in one recursive CTE whose state carries both "
        "vocabularies, so drift in either half breaks the hash. Scale: "
        "apply is chained shuffle-free projections over the distinct-word "
        "table (Heaps-law small); the per-lang stats are one broadcast "
        "join + one aggregate over the exploded word stream",
)
def q_bpe_tokenize_fertility_fixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.bpe import apply_bpe, train_bpe

    docs = _t(spark, sf_dir, "documents")
    corpus_words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word").rlike("^[a-z]{2,12}$"))
    train_words = (
        corpus_words.groupBy("word").agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "word").limit(_BPE_FIX_WORDS)
    )
    merges, _ = train_bpe(
        spark, None, n_merges=_BPE_FIX_MERGES,
        driver_finish_rows=0, words=train_words,
    )
    vocab = apply_bpe(corpus_words.distinct(), merges).select(
        "word", F.size("syms").cast("long").alias("n_sub")
    )
    wl = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word").rlike("^[a-z]{2,12}$"))
    return (
        wl.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
        .select(
            "lang", "n_words", "n_subwords",
            F.expr("n_subwords * 1000 div n_words").cast("long")
            .alias("subwords_per_word_ppk"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — exact replayable estimator
# ---------------------------------------------------------------------------

@register(
    "kmv_distinct_estimate",
    oracle="""
    WITH pk AS (SELECT DISTINCT l_partkey FROM lineitem),
    h AS (
      SELECT ('0x' || substr(md5('p' || CAST(l_partkey AS VARCHAR)), 1, 13)
             )::BIGINT AS h
      FROM pk
    ),
    k AS (
      SELECT CAST(MAX(h) AS BIGINT) AS kth, CAST(COUNT(*) AS BIGINT) AS k
      FROM (SELECT h FROM h ORDER BY h LIMIT 64)
    ),
    x AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM pk)
    SELECT k.k AS k, k.kth AS kth_min_hash,
           (k.k - 1) * 4503599627370496 // k.kth AS est_distinct,
           x.exact_distinct,
           abs((k.k - 1) * 4503599627370496 // k.kth - x.exact_distinct)
             * 1000000 // x.exact_distinct AS rel_err_ppm
    FROM k, x
    """,
    doc="KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002): keep the "
        "k smallest 52-bit hash values of the key set; estimate = "
        "(k-1)*2^52 / h_(k). The third mergeable-sketch family next to "
        "HLL and CMS, and unlike them EXACTLY replayable: md5 is shared "
        "cross-engine (conv(substr(md5,1,13)) == ('0x'||substr)::BIGINT), "
        "so the estimate, the k-th order statistic, and the ppm error vs "
        "the exact count all hash-match. Scale: the bottom-k of a "
        "distinct-keyed relation is a TakeOrdered heap (no global sort), "
        "and bottom-k sets merge by union+truncate, so per-partition "
        "sketches combine exactly like production KMV",
)
def q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pk = _t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    h = pk.select(
        F.expr("cast(conv(substr(md5(concat('p', cast(l_partkey as string)"
               ")), 1, 13), 16, 10) as long)").alias("h")
    )
    k = (
        h.orderBy("h").limit(64)
        .agg(F.max("h").alias("kth"), F.count("*").cast("long").alias("k"))
    )
    x = pk.agg(F.count("*").cast("long").alias("exact_distinct"))
    return k.crossJoin(F.broadcast(x)).select(
        "k", F.col("kth").alias("kth_min_hash"),
        F.expr("(k - 1) * 4503599627370496 div kth").alias("est_distinct"),
        "exact_distinct",
        F.expr("abs((k - 1) * 4503599627370496 div kth - exact_distinct) "
               "* 1000000 div exact_distinct").alias("rel_err_ppm"),
    )


# ---------------------------------------------------------------------------
# Interval union coverage (sweep-line as a window function)
# ---------------------------------------------------------------------------

@register(
    "interval_union_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e,
             event_id
      FROM events
    ), sw AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pmax, s)), 0))
                AS BIGINT) AS covered_us
    FROM sw GROUP BY user_id ORDER BY user_id
    """,
    doc="Length of the UNION of per-user activity intervals ([ts, ts+5min) "
        "per event) — the classic sweep-line 'total covered time' measure "
        "that naive SUM(duration) double-counts: each interval contributes "
        "max(0, end - max(start, max-previous-end)), with the running max "
        "computed by one window over (start, event_id). Complements "
        "max_concurrency_daily (how many at once) and allen_interval_census "
        "(pair topology) with the measure-of-union. Scale: one user-keyed "
        "shuffle; the window carries a single running max — no interval "
        "self-join, no explosion to minute grain",
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_nanos div 1000").alias("s"), "event_id"
    ).withColumn("e", F.col("s") + F.lit(300_000_000))
    w = (
        Window.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sw = iv.withColumn("pmax", F.max("e").over(w))
    return (
        sw.select(
            "user_id",
            F.greatest(
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce("pmax", "s")),
                F.lit(0).cast("long"),
            ).alias("c"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum("c").cast("long").alias("covered_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue equity curve
# ---------------------------------------------------------------------------

@register(
    "max_drawdown_daily",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY day
    ), c AS (
      SELECT day,
             CAST(SUM(cents) OVER (ORDER BY day) AS BIGINT) AS cum
      FROM d
    ), dd AS (
      SELECT day, cum,
             CAST(MAX(cum) OVER (ORDER BY day) AS BIGINT) AS peak,
             CAST(MAX(cum) OVER (ORDER BY day) - cum AS BIGINT) AS drawdown
      FROM c
    )
    SELECT CAST(drawdown AS BIGINT) AS max_drawdown_cents,
           CAST(day AS BIGINT) AS trough_day,
           CAST(peak AS BIGINT) AS peak_cents
    FROM dd ORDER BY drawdown DESC, day LIMIT 1
    """,
    doc="Maximum drawdown of the cumulative daily revenue curve: running "
        "peak minus running value, maximized (earliest trough on ties) — "
        "the classic risk statistic, and the mirror of "
        "running_balance_clamped's max(0,.) closed form: drawdown needs "
        "only two stacked windows over the plain cumulative sum, no "
        "sequential fold. All arithmetic in exact int64 cents. Scale: the "
        "fact scan is one map-side-combined groupBy to ~2.4k daily rows; "
        "the windows run on the day series, never the fact table",
)
def q_max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("cents")
    )
    wc = bounded_window(F.col("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select("day", F.sum("cents").over(wc).cast("long").alias("cum"))
    dd = c.select(
        "day", "cum",
        F.max("cum").over(wc).cast("long").alias("peak"),
        (F.max("cum").over(wc) - F.col("cum")).cast("long")
        .alias("drawdown"),
    )
    return (
        dd.orderBy(F.desc("drawdown"), "day").limit(1)
        .select(
            F.col("drawdown").cast("long").alias("max_drawdown_cents"),
            F.col("day").cast("long").alias("trough_day"),
            F.col("peak").cast("long").alias("peak_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Ordinal pattern census (permutation patterns of the daily series)
# ---------------------------------------------------------------------------

@register(
    "ordinal_pattern_census",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS r0
      FROM orders GROUP BY day
    ), t AS (
      SELECT r0,
             LEAD(r0, 1) OVER (ORDER BY day) AS r1,
             LEAD(r0, 2) OVER (ORDER BY day) AS r2
      FROM d
    )
    SELECT CAST(4 * CAST(r0 <= r1 AS BIGINT)
              + 2 * CAST(r0 <= r2 AS BIGINT)
              + CAST(r1 <= r2 AS BIGINT) AS BIGINT) AS pattern_code,
           CAST(COUNT(*) AS BIGINT) AS n_triples
    FROM t WHERE r2 IS NOT NULL
    GROUP BY pattern_code ORDER BY pattern_code
    """,
    doc="Ordinal (permutation-pattern) census of the daily revenue series "
        "(Bandt & Pompe 2002, the counting half of permutation entropy "
        "without the cross-engine-unsafe log): each consecutive value "
        "triple maps to one of 6 order patterns, ties broken by position "
        "(earlier index counts as smaller, making every comparison a "
        "deterministic <=), encoded as 4*(r0<=r1)+2*(r0<=r2)+(r1<=r2). "
        "A monotone series concentrates on codes 0/7; white noise spreads "
        "uniformly. Scale: two LEADs over the ~2.4k-row day series; the "
        "fact scan is one map-side-combined groupBy",
)
def q_ordinal_pattern_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        epoch_day("o_orderdate").alias("day")
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("r0")
    )
    bw = bounded_window(F.col("day"))
    t = d.select(
        "r0",
        F.lead("r0", 1).over(bw).alias("r1"),
        F.lead("r0", 2).over(bw).alias("r2"),
    ).where(F.col("r2").isNotNull())
    return (
        t.groupBy(
            (
                4 * (F.col("r0") <= F.col("r1")).cast("long")
                + 2 * (F.col("r0") <= F.col("r2")).cast("long")
                + (F.col("r1") <= F.col("r2")).cast("long")
            ).cast("long").alias("pattern_code")
        )
        .agg(F.count("*").cast("long").alias("n_triples"))
        .orderBy("pattern_code")
    )


# ---------------------------------------------------------------------------
# Leave-one-out source influence (data valuation primitive)
# ---------------------------------------------------------------------------

@register(
    "loo_group_influence",
    oracle="""
    WITH g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS stot
      FROM g
    )
    SELECT g.source, g.n_docs,
           stot * 1000000 // n AS corpus_mean_e6,
           (stot - g.s) * 1000000 // (n - g.n_docs) AS loo_mean_e6,
           stot * 1000000 // n
             - (stot - g.s) * 1000000 // (n - g.n_docs) AS influence_e6
    FROM g, tot ORDER BY g.source
    """,
    doc="Leave-one-out influence of each source on the corpus-level mean "
        "document length: corpus mean minus the mean with that source "
        "removed — the simplest data-valuation primitive (the exact "
        "LOO special case of Data Shapley, Ghorbani & Zou 2019), telling "
        "a curation pipeline which source drags the quality metric and by "
        "how much. All exact int64 (sums and e6 floor-divisions; LOO "
        "means derive from the SAME group sums, so no second scan). "
        "Scale: one map-side-combined groupBy over documents; the LOO "
        "algebra runs on the per-source aggregate joined with a 1-row "
        "broadcast total",
)
def q_loo_group_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("s"),
    )
    tot = g.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum("s").cast("long").alias("stot"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs",
            F.expr("stot * 1000000 div n").alias("corpus_mean_e6"),
            F.expr("(stot - s) * 1000000 div (n - n_docs)")
            .alias("loo_mean_e6"),
            F.expr("stot * 1000000 div n - (stot - s) * 1000000 div "
                   "(n - n_docs)").alias("influence_e6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (2x2 design, exact cents)
# ---------------------------------------------------------------------------

@register(
    "did_estimator",
    oracle="""
    WITH cells AS (
      SELECT CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS treat,
             CAST(o_orderdate >= TIMESTAMP '1996-01-01' AS BIGINT) AS post,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT
        MAX(CASE WHEN treat=1 AND post=1 THEN cents // n END) AS m_t_post,
        MAX(CASE WHEN treat=1 AND post=0 THEN cents // n END) AS m_t_pre,
        MAX(CASE WHEN treat=0 AND post=1 THEN cents // n END) AS m_c_post,
        MAX(CASE WHEN treat=0 AND post=0 THEN cents // n END) AS m_c_pre,
        CAST(SUM(n) AS BIGINT) AS n_orders
      FROM cells
    )
    SELECT m_t_pre, m_t_post, m_c_pre, m_c_post, n_orders,
           (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_cents
    FROM m
    """,
    doc="Difference-in-differences over the canonical 2x2 design (treated "
        "= urgent-priority orders, post = 1996+): the treated group's "
        "before/after change minus the control group's, removing the "
        "common time trend — the workhorse quasi-experimental estimator "
        "next to CUPED (variance reduction) and SPRT (sequential testing) "
        "in the experimentation family. Cell means in truncated int64 "
        "cents, so the estimate hash-matches exactly. Scale: one "
        "map-side-combined 4-group aggregate over the fact table; the "
        "2x2 algebra is a 1-row projection",
)
def q_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("treat"),
        (F.col("o_orderdate") >= "1996-01-01").cast("long").alias("post"),
    ).agg(
        F.sum(cents_nonneg(F.col("o_totalprice")))
        .cast("long").alias("cents"),
        F.count("*").cast("long").alias("n"),
    )
    m = cells.agg(
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1),
                     F.expr("cents div n"))).alias("m_t_post"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0),
                     F.expr("cents div n"))).alias("m_t_pre"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 1),
                     F.expr("cents div n"))).alias("m_c_post"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 0),
                     F.expr("cents div n"))).alias("m_c_pre"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return m.select(
        "m_t_pre", "m_t_post", "m_c_pre", "m_c_post", "n_orders",
        ((F.col("m_t_post") - F.col("m_t_pre"))
         - (F.col("m_c_post") - F.col("m_c_pre"))).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# Exact Shapley attribution over 3 channels (coalition enumeration)
# ---------------------------------------------------------------------------

@register(
    "shapley_attribution_3ch",
    oracle="""
    WITH fp AS (
      SELECT user_id, MIN(epoch_us(ts)) AS cts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), pre AS (
      SELECT e.user_id,
          CAST(MAX(CASE WHEN event_type='view' THEN 1 ELSE 0 END)
         + 2 * MAX(CASE WHEN event_type='click' THEN 1 ELSE 0 END)
         + 4 * MAX(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS mask
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE epoch_us(ts) < fp.cts
        AND event_type IN ('view', 'click', 'signup')
      GROUP BY e.user_id
    ), mc AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n FROM pre GROUP BY mask
    ), v AS (
      SELECT s.s,
             CAST(COALESCE(SUM(CASE WHEN (mc.mask & s.s) = mc.mask
                                    THEN mc.n END), 0) AS BIGINT) AS v
      FROM (SELECT unnest(range(1, 8)) AS s) s
      LEFT JOIN mc ON true
      GROUP BY s.s
    ), row_v AS (
      SELECT MAX(CASE WHEN s=1 THEN v END) AS v1,
             MAX(CASE WHEN s=2 THEN v END) AS v2,
             MAX(CASE WHEN s=3 THEN v END) AS v3,
             MAX(CASE WHEN s=4 THEN v END) AS v4,
             MAX(CASE WHEN s=5 THEN v END) AS v5,
             MAX(CASE WHEN s=6 THEN v END) AS v6,
             MAX(CASE WHEN s=7 THEN v END) AS v7
      FROM v
    )
    SELECT 'click' AS channel, v2 AS v_solo,
           2*v2 + (v3 - v1) + (v6 - v4) + 2*(v7 - v5) AS phi_x6 FROM row_v
    UNION ALL
    SELECT 'signup', v4, 2*v4 + (v5 - v1) + (v6 - v2) + 2*(v7 - v3)
    FROM row_v
    UNION ALL
    SELECT 'view', v1, 2*v1 + (v3 - v2) + (v5 - v4) + 2*(v7 - v6)
    FROM row_v
    ORDER BY channel
    """,
    doc="EXACT Shapley-value attribution over 3 marketing channels "
        "(Shapley 1953 applied to conversion credit): conversion = a "
        "user's first purchase; a user's coalition is the set of channel "
        "types (view/click/signup) seen strictly BEFORE it; v(S) = "
        "converted users whose coalition is inside S; channel credit is "
        "the exact 3-player Shapley sum with factorial weights 2/6, 1/6, "
        "1/6, 2/6 — reported x6 so everything stays int64 (efficiency "
        "axiom: the three phi_x6 sum to 6*v(full)). Complements "
        "linear_attribution (positional) and the Markov family "
        "(transition-based) with the game-theoretic attribution. Scale: "
        "one user-keyed aggregate to masks, then all coalition algebra "
        "runs on the <=8-row mask histogram",
)
def q_shapley_attribution_3ch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_nanos div 1000").alias("ts_us")
    )
    fp = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts_us").alias("cts"))
    pre = (
        ev.join(fp, "user_id")
        .filter(
            (F.col("ts_us") < F.col("cts"))
            & F.col("event_type").isin("view", "click", "signup")
        )
        .groupBy("user_id")
        .agg(
            (
                F.max(F.when(F.col("event_type") == "view", 1)
                      .otherwise(0))
                + 2 * F.max(F.when(F.col("event_type") == "click", 1)
                            .otherwise(0))
                + 4 * F.max(F.when(F.col("event_type") == "signup", 1)
                            .otherwise(0))
            ).cast("long").alias("mask")
        )
    )
    mc = pre.groupBy("mask").agg(F.count("*").cast("long").alias("n"))
    coal = spark.range(1, 8).select(F.col("id").alias("s"))
    v = (
        coal.join(
            F.broadcast(mc),
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("v"))
    )
    row_v = v.agg(
        *[
            F.max(F.when(F.col("s") == i, F.col("v"))).alias(f"v{i}")
            for i in range(1, 8)
        ]
    )
    return row_v.select(
        F.expr(
            "stack(3, "
            "'click', v2, 2*v2 + (v3 - v1) + (v6 - v4) + 2*(v7 - v5), "
            "'signup', v4, 2*v4 + (v5 - v1) + (v6 - v2) + 2*(v7 - v3), "
            "'view', v1, 2*v1 + (v3 - v2) + (v5 - v4) + 2*(v7 - v6)"
            ") as (channel, v_solo, phi_x6)"
        )
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# t-closeness audit (ordered EMD between group and global distributions)
# ---------------------------------------------------------------------------

@register(
    "t_closeness_audit",
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS seg,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal < 5000 THEN 1 ELSE 2 END AS bucket
      FROM customer
    ), g AS (
      SELECT seg, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY seg, bucket
    ), segn AS (
      SELECT seg, CAST(SUM(n) AS BIGINT) AS ng FROM g GROUP BY seg
    ), gdist AS (
      SELECT bucket, CAST(SUM(n) AS BIGINT) AS nb FROM g GROUP BY bucket
    ), tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS nt FROM gdist),
    full_grid AS (
      SELECT s.seg, gb.bucket,
             COALESCE(g.n, 0) * 1000000 // s.ng AS p_ppm,
             gb.nb * 1000000 // t.nt AS q_ppm
      FROM segn s CROSS JOIN gdist gb CROSS JOIN tot t
      LEFT JOIN g ON g.seg = s.seg AND g.bucket = gb.bucket
    ), cum AS (
      SELECT seg, bucket,
             CAST(SUM(p_ppm) OVER (PARTITION BY seg ORDER BY bucket)
                - SUM(q_ppm) OVER (PARTITION BY seg ORDER BY bucket)
                AS BIGINT) AS cumdiff
      FROM full_grid
    )
    SELECT c.seg AS segment, s.ng AS n_customers,
           CAST(SUM(CASE WHEN c.bucket < 2 THEN abs(c.cumdiff) ELSE 0 END)
                AS BIGINT) AS t_emd_ppm
    FROM cum c JOIN segn s ON s.seg = c.seg
    GROUP BY c.seg, s.ng ORDER BY c.seg
    """,
    doc="t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): for "
        "each quasi-identifier group (market segment), the Earth Mover's "
        "Distance between the group's distribution of the ordered "
        "sensitive attribute (account-balance bucket: negative / low / "
        "high) and the global distribution — EMD over an ordered "
        "3-category attribute is the sum of |cumulative differences|, "
        "computed in exact ppm integers. Completes the privacy-audit "
        "family: k_anonymity (group size), l_diversity (value variety), "
        "t-closeness (distribution skew). Scale: one groupBy to the "
        "(segment x bucket) grid; EMD runs on the tiny grid, never the "
        "customer table",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    b = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2).cast("long").alias("bucket"),
    )
    g = b.groupBy("seg", "bucket").agg(F.count("*").cast("long").alias("n"))
    segn = g.groupBy("seg").agg(F.sum("n").cast("long").alias("ng"))
    glob = g.groupBy("bucket").agg(F.sum("n").cast("long").alias("nb"))
    tot = glob.agg(F.sum("nb").cast("long").alias("nt"))
    grid = (
        segn.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(g, ["seg", "bucket"], "left")
        .select(
            "seg", "bucket", "ng",
            F.expr("coalesce(n, 0) * 1000000 div ng").alias("p_ppm"),
            F.expr("nb * 1000000 div nt").alias("q_ppm"),
        )
    )
    wseg = Window.partitionBy("seg").orderBy("bucket")
    cum = grid.select(
        "seg", "bucket", "ng",
        (F.sum("p_ppm").over(wseg) - F.sum("q_ppm").over(wseg))
        .cast("long").alias("cumdiff"),
    )
    return (
        cum.groupBy(F.col("seg").alias("segment"))
        .agg(
            F.max("ng").alias("n_customers"),
            F.sum(
                F.when(F.col("bucket") < 2, F.abs("cumdiff")).otherwise(0)
            ).cast("long").alias("t_emd_ppm"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Katz centrality (attenuated path counting, exact fixed point)
# ---------------------------------------------------------------------------

_KATZ_ORACLE = """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM b a JOIN b c
        ON c.l_orderkey = a.l_orderkey AND c.l_partkey > a.l_partkey
      GROUP BY p1, p2 HAVING COUNT(*) >= 2
    ),
    e AS (SELECT p1 AS u, p2 AS v FROM pr UNION ALL SELECT p2, p1 FROM pr),
    x0 AS (
      SELECT DISTINCT u AS node, CAST(1000000 AS BIGINT) AS score FROM e
    ),
    x1 AS (
      SELECT e.u AS node,
             1000000 + SUM(x0.score) // 2 AS score
      FROM e JOIN x0 ON x0.node = e.v
      GROUP BY e.u
    ),
    x2 AS (
      SELECT e.u AS node,
             1000000 + SUM(x1.score) // 2 AS score
      FROM e JOIN x1 ON x1.node = e.v
      GROUP BY e.u
    ),
    x3 AS (
      SELECT e.u AS node,
             1000000 + SUM(x2.score) // 2 AS score
      FROM e JOIN x2 ON x2.node = e.v
      GROUP BY e.u
    )
    SELECT node AS part, CAST(score AS BIGINT) AS katz_e6 FROM x3
    ORDER BY score DESC, node LIMIT 20
    """


@register(
    "katz_centrality_fixed",
    oracle=_KATZ_ORACLE,
    doc="Katz centrality (Katz 1953) over the co-purchase part graph: "
        "score = 1e6 + (sum of neighbor scores) div 2 per iteration (3 "
        "iterations, attenuation 1/2 as an exact halving) — attenuated "
        "path COUNTING, the third centrality next to PageRank (degree-"
        "normalized random walk) and HITS (max-normalized mutual "
        "reinforcement): hubs score by volume of short paths, not by "
        "share. All int64; the DuckDB chained-CTE unroll replays it "
        "hash-for-hash. Scale: one co-purchase self-join builds the "
        "edge list (materialized once), then O(iters) edge-keyed "
        "join+agg shuffles; top-k is a TakeOrdered heap",
)
def q_katz_centrality_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import co_purchase_pairs, katz_scores

    li = _t(spark, sf_dir, "lineitem")
    x = katz_scores(co_purchase_pairs(li), iters=3)
    return (
        x.orderBy(F.desc("score"), "node").limit(20)
        .select(F.col("node").alias("part"), F.col("score").alias("katz_e6"))
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (weighted PageRank on word co-occurrence)
# ---------------------------------------------------------------------------

_TEXTRANK_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         x -> regexp_matches(x, '^[a-z]{2,12}$')) AS ws
      FROM documents
    ),
    bg AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM toks, unnest(range(1, len(ws))) AS t(i)
    ),
    pairs AS (
      SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM bg WHERE w1 <> w2 GROUP BY 1, 2
    ),
    e AS (SELECT a AS u, b AS v, w FROM pairs
          UNION ALL SELECT b, a, w FROM pairs),
    wt AS (SELECT u, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY u),
    s0 AS (
      SELECT DISTINCT u AS word, CAST(1000000 AS BIGINT) AS score FROM e
    ),
    s1 AS (
      SELECT e.v AS word,
             150000 + 85 * SUM(e.w * s0.score // wt.tw) // 100 AS score
      FROM e JOIN s0 ON s0.word = e.u
      JOIN wt ON wt.u = e.u
      GROUP BY e.v
    ),
    s2 AS (
      SELECT e.v AS word,
             150000 + 85 * SUM(e.w * s1.score // wt.tw) // 100 AS score
      FROM e JOIN s1 ON s1.word = e.u
      JOIN wt ON wt.u = e.u
      GROUP BY e.v
    ),
    s3 AS (
      SELECT e.v AS word,
             150000 + 85 * SUM(e.w * s2.score // wt.tw) // 100 AS score
      FROM e JOIN s2 ON s2.word = e.u
      JOIN wt ON wt.u = e.u
      GROUP BY e.v
    )
    SELECT word, CAST(score AS BIGINT) AS rank_e6 FROM s3
    ORDER BY score DESC, word LIMIT 20
    """


@register(
    "textrank_keywords",
    oracle=_TEXTRANK_ORACLE,
    doc="TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): "
        "weighted PageRank over the word co-occurrence graph (adjacent "
        "lowercase tokens, undirected, edge weight = corpus bigram "
        "count); score' = 0.15e6 + 85*(sum over neighbors of w*score div "
        "total_weight) div 100, 3 iterations, all int64. The graph-based "
        "keyword extractor a curation pipeline runs next to tfidf_top_"
        "terms (frequency-based): TextRank promotes CONNECTOR words. "
        "Scale: bigram counting is one scan-side explode + groupBy; the "
        "rank iterations run on the vocabulary-sized graph (Heaps-law "
        "small), never the corpus",
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(text, ' '), "
               "x -> x rlike '^[a-z]{2,12}$')").alias("ws")
    )
    n = F.size("ws")
    bg = toks.filter(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n - 1), F.slice("ws", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pairs = (
        bg.filter(F.col("w1") != F.col("w2"))
        .groupBy(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    e = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"), "w") \
        .unionByName(
            pairs.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
        ).localCheckpoint(eager=True)
    wt = e.groupBy("u").agg(F.sum("w").cast("long").alias("tw"))
    ewt = e.join(wt, "u").localCheckpoint(eager=True)
    sc = ewt.select(F.col("u").alias("word")).distinct().withColumn(
        "score", F.lit(1_000_000).cast("long")
    )
    for _ in range(3):
        sc = (
            ewt.join(sc, ewt.u == sc.word)
            .groupBy(F.col("v").alias("word"))
            .agg(
                F.expr("150000 + (85 * sum(w * score div tw)) div 100")
                .cast("long").alias("score")
            )
        )
    return (
        sc.orderBy(F.desc("score"), "word").limit(20)
        .select("word", F.col("score").alias("rank_e6"))
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain reachability)
# ---------------------------------------------------------------------------

_MARKOV_REMOVAL_ORACLE = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS b,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS rn
      FROM e
    ),
    trans_raw AS (
      SELECT a, b FROM seq WHERE b IS NOT NULL
      UNION ALL
      SELECT 'START' AS a, a AS b FROM seq WHERE rn = 1
    ),
    tc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM trans_raw GROUP BY a, b),
    ta AS (SELECT a, CAST(SUM(c) AS BIGINT) AS tot FROM tc GROUP BY a),
    trans AS (
      SELECT tc.a, tc.b, tc.c * 1000000 // ta.tot AS p_ppm
      FROM tc JOIN ta ON ta.a = tc.a
    ),
    variants AS (
      SELECT * FROM (VALUES ('full', ''), ('no_click', 'click'),
                            ('no_signup', 'signup'), ('no_view', 'view'))
             v(variant, removed)
    ),
    tv AS (
      SELECT v.variant, t.a, t.b, t.p_ppm
      FROM variants v JOIN trans t
        ON t.a <> v.removed AND t.b <> v.removed
    ),
    st AS (
      SELECT DISTINCT variant, state FROM (
        SELECT variant, a AS state FROM tv
        UNION ALL SELECT variant, b FROM tv
        UNION ALL SELECT variant, 'purchase' FROM variants
      )
    ),
    r0 AS (
      SELECT variant, state,
             CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS score
      FROM st
    ),
    r1 AS (
      SELECT st.variant, st.state,
             CASE WHEN st.state = 'purchase' THEN 1000000
                  ELSE COALESCE(SUM(tv.p_ppm * r0.score // 1000000), 0)
             END AS score
      FROM st
      LEFT JOIN tv ON tv.variant = st.variant AND tv.a = st.state
      LEFT JOIN r0 ON r0.variant = st.variant
                      AND r0.state = tv.b
      GROUP BY st.variant, st.state
    ),
    r2 AS (
      SELECT st.variant, st.state,
             CASE WHEN st.state = 'purchase' THEN 1000000
                  ELSE COALESCE(SUM(tv.p_ppm * r1.score // 1000000), 0)
             END AS score
      FROM st
      LEFT JOIN tv ON tv.variant = st.variant AND tv.a = st.state
      LEFT JOIN r1 ON r1.variant = st.variant
                      AND r1.state = tv.b
      GROUP BY st.variant, st.state
    ),
    r3 AS (
      SELECT st.variant, st.state,
             CASE WHEN st.state = 'purchase' THEN 1000000
                  ELSE COALESCE(SUM(tv.p_ppm * r2.score // 1000000), 0)
             END AS score
      FROM st
      LEFT JOIN tv ON tv.variant = st.variant AND tv.a = st.state
      LEFT JOIN r2 ON r2.variant = st.variant
                      AND r2.state = tv.b
      GROUP BY st.variant, st.state
    ),
    r4 AS (
      SELECT st.variant, st.state,
             CASE WHEN st.state = 'purchase' THEN 1000000
                  ELSE COALESCE(SUM(tv.p_ppm * r3.score // 1000000), 0)
             END AS score
      FROM st
      LEFT JOIN tv ON tv.variant = st.variant AND tv.a = st.state
      LEFT JOIN r3 ON r3.variant = st.variant
                      AND r3.state = tv.b
      GROUP BY st.variant, st.state
    ),
    conv AS (
      SELECT v.variant,
             CAST(COALESCE(SUM(t.p_ppm * r.score // 1000000), 0) AS BIGINT)
               AS p_conv_ppm
      FROM variants v
      LEFT JOIN tv t ON t.variant = v.variant AND t.a = 'START'
      LEFT JOIN r4 r ON r.variant = v.variant AND r.state = t.b
      GROUP BY v.variant
    )
    SELECT c.variant, c.p_conv_ppm,
           CAST(f.p_conv_ppm - c.p_conv_ppm AS BIGINT)
             AS removal_effect_ppm
    FROM conv c JOIN conv f ON f.variant = 'full'
    ORDER BY c.variant
    """


@register(
    "markov_removal_attribution",
    oracle=_MARKOV_REMOVAL_ORACLE,
    doc="Markov removal-effect attribution (Anderl et al. 2016): build "
        "the user-journey transition chain (START + event types, ppm "
        "probabilities), compute the probability of reaching 'purchase' "
        "within 4 steps (absorbing, exact int64 ppm per-edge products), "
        "then re-compute with each channel's state removed (its "
        "probability mass becomes dropout) — a channel's credit is how "
        "much conversion probability disappears without it. The "
        "chain-based attribution next to shapley_attribution_3ch "
        "(game-theoretic) and linear_attribution (positional). Scale: "
        "transition counting is one user-keyed window pass; all chain "
        "algebra runs on the (variant x state x state) table, <=4 x 6 x "
        "6 rows, regardless of corpus size",
)
def q_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_nanos div 1000").alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
        F.row_number().over(w).alias("rn"),
    )
    trans_raw = seq.filter(F.col("b").isNotNull()).select("a", "b") \
        .unionByName(
            seq.filter(F.col("rn") == 1)
            .select(F.lit("START").alias("a"), F.col("a").alias("b"))
        )
    tc = trans_raw.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("c")
    )
    ta = tc.groupBy("a").agg(F.sum("c").cast("long").alias("tot"))
    trans = tc.join(ta, "a").select(
        "a", "b", F.expr("c * 1000000 div tot").alias("p_ppm")
    ).localCheckpoint(eager=True)
    variants = spark.createDataFrame(
        [("full", ""), ("no_click", "click"), ("no_signup", "signup"),
         ("no_view", "view")],
        "variant string, removed string",
    )
    tv = variants.crossJoin(trans).filter(
        (F.col("a") != F.col("removed")) & (F.col("b") != F.col("removed"))
    ).select("variant", "a", "b", "p_ppm").localCheckpoint(eager=True)
    st = (
        tv.select("variant", F.col("a").alias("state"))
        .unionByName(tv.select("variant", F.col("b").alias("state")))
        .unionByName(
            variants.select("variant", F.lit("purchase").alias("state"))
        )
        .distinct()
        .select(F.col("variant").alias("sv"), F.col("state").alias("ss"))
        .localCheckpoint(eager=True)
    )
    r = st.select(
        F.col("sv").alias("rv"), F.col("ss").alias("rs"),
        F.when(F.col("ss") == "purchase", 1_000_000).otherwise(0)
        .cast("long").alias("rscore"),
    )
    for _ in range(4):
        joined = st.join(
            tv,
            (F.col("variant") == F.col("sv")) & (F.col("a") == F.col("ss")),
            "left",
        ).join(
            r,
            (F.col("rv") == F.col("sv")) & (F.col("rs") == F.col("b")),
            "left",
        )
        r = joined.groupBy("sv", "ss").agg(
            F.when(
                F.col("ss") == "purchase", F.lit(1_000_000).cast("long")
            ).otherwise(
                F.coalesce(
                    F.sum(F.expr("p_ppm * rscore div 1000000")), F.lit(0)
                ).cast("long")
            ).alias("rscore")
        ).select(
            F.col("sv").alias("rv"), F.col("ss").alias("rs"), "rscore"
        )
    conv = (
        variants.join(
            tv.filter(F.col("a") == "START").select(
                "variant", "b", "p_ppm"
            ),
            "variant", "left",
        )
        .join(
            r,
            (F.col("rv") == F.col("variant")) & (F.col("rs") == F.col("b")),
            "left",
        )
        .groupBy("variant")
        .agg(
            F.coalesce(
                F.sum(F.expr("p_ppm * rscore div 1000000")), F.lit(0)
            ).cast("long").alias("p_conv_ppm")
        )
    )
    full = conv.filter(F.col("variant") == "full").select(
        F.col("p_conv_ppm").alias("full_ppm")
    )
    return (
        conv.crossJoin(F.broadcast(full))
        .select(
            "variant", "p_conv_ppm",
            (F.col("full_ppm") - F.col("p_conv_ppm")).cast("long")
            .alias("removal_effect_ppm"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# Corpus BLEU-2 (clipped n-gram precision, geometric mean via exact sqrt)
# ---------------------------------------------------------------------------

_BLEU_ORACLE = """
WITH d AS (
  SELECT source, lang, doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id AS pid, toks AS cand,
         LEAD(toks) OVER (PARTITION BY source, lang ORDER BY doc_id) AS ref
  FROM d
),
pp AS (SELECT pid, cand, ref FROM pairs WHERE ref IS NOT NULL),
c1 AS (
  SELECT pid, t.g AS g, CAST(COUNT(*) AS BIGINT) AS n
  FROM pp, unnest(cand) AS t(g) GROUP BY pid, t.g
),
r1 AS (
  SELECT pid, t.g AS g, CAST(COUNT(*) AS BIGINT) AS n
  FROM pp, unnest(ref) AS t(g) GROUP BY pid, t.g
),
c2 AS (
  SELECT pid, cand[i] || ' ' || cand[i+1] AS g,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pp, unnest(range(1, len(cand))) AS t(i) GROUP BY pid, g
),
r2 AS (
  SELECT pid, ref[i] || ' ' || ref[i+1] AS g,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pp, unnest(range(1, len(ref))) AS t(i) GROUP BY pid, g
),
clip1 AS (
  SELECT CAST(SUM(LEAST(c1.n, r1.n)) AS BIGINT) AS clipped
  FROM c1 JOIN r1 ON r1.pid = c1.pid AND r1.g = c1.g
),
clip2 AS (
  SELECT CAST(SUM(LEAST(c2.n, r2.n)) AS BIGINT) AS clipped
  FROM c2 JOIN r2 ON r2.pid = c2.pid AND r2.g = c2.g
),
tots AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(len(cand)) AS BIGINT) AS c_tokens,
         CAST(SUM(len(ref)) AS BIGINT) AS r_tokens,
         CAST(SUM(len(cand) - 1) AS BIGINT) AS c_bigrams
  FROM pp
)
SELECT t.n_pairs, t.c_tokens, t.r_tokens,
       c1.clipped * 1000000 // t.c_tokens AS p1_ppm,
       c2.clipped * 1000000 // t.c_bigrams AS p2_ppm,
       CAST(floor(sqrt(CAST((c1.clipped * 1000000 // t.c_tokens)
                          * (c2.clipped * 1000000 // t.c_bigrams)
                          AS DOUBLE))) AS BIGINT) AS bleu2_nobp_ppm,
       CAST(t.c_tokens < t.r_tokens AS BIGINT) AS bp_would_apply
FROM tots t, clip1 c1, clip2 c2
"""


@register(
    "bleu_selfsim_eval",
    oracle=_BLEU_ORACLE,
    doc="Corpus BLEU-2 without brevity penalty (Papineni et al., ACL "
        "2002) between neighboring documents of the same (source, lang) "
        "stream — the standard MT/selfsim evaluation metric: clipped "
        "unigram and bigram precisions (candidate n-gram counts clipped "
        "by the reference's, summed corpus-wide) in exact ppm integers, "
        "geometric mean via one sqrt on the exact integer product "
        "(correctly-rounded IEEE -> bit-identical cross-engine); the "
        "brevity-penalty exp() is the one cross-engine-unsafe term, so "
        "the BP condition is reported as a flag instead of applied. "
        "Scale: n-gram histograms explode scan-side and aggregate per "
        "(pair, gram); the clip join is keyed on the same — "
        "corpus-size-linear, no all-pairs anything",
)
def q_bleu_selfsim_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "source", "lang", "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"),
    )
    w = Window.partitionBy("source", "lang").orderBy("doc_id")
    pp = docs.select(
        F.col("doc_id").alias("pid"), F.col("toks").alias("cand"),
        F.lead("toks").over(w).alias("ref"),
    ).filter(F.col("ref").isNotNull()).localCheckpoint(eager=True)

    def grams(col, out):
        n = F.size(col)
        return F.when(n >= 2, F.zip_with(
            F.slice(col, 1, n - 1), F.slice(col, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )).otherwise(F.array().cast("array<string>")).alias(out)

    def hist(side, expr_):
        return (
            pp.select("pid", F.explode(expr_).alias("g"))
            .groupBy("pid", "g")
            .agg(F.count("*").cast("long").alias(f"n_{side}"))
        )

    c1 = hist("c", F.col("cand"))
    r1 = hist("r", F.col("ref"))
    c2 = hist("c", grams(F.col("cand"), "g"))
    r2 = hist("r", grams(F.col("ref"), "g"))
    clip1 = c1.join(r1, ["pid", "g"]).agg(
        F.sum(F.least("n_c", "n_r")).cast("long").alias("clip1")
    )
    clip2 = c2.join(r2, ["pid", "g"]).agg(
        F.sum(F.least("n_c", "n_r")).cast("long").alias("clip2")
    )
    tots = pp.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.size("cand")).cast("long").alias("c_tokens"),
        F.sum(F.size("ref")).cast("long").alias("r_tokens"),
        F.sum(F.size("cand") - 1).cast("long").alias("c_bigrams"),
    )
    return (
        tots.crossJoin(F.broadcast(clip1)).crossJoin(F.broadcast(clip2))
        .select(
            "n_pairs", "c_tokens", "r_tokens",
            F.expr("clip1 * 1000000 div c_tokens").alias("p1_ppm"),
            F.expr("clip2 * 1000000 div c_bigrams").alias("p2_ppm"),
            F.expr(
                "cast(floor(sqrt(cast((clip1 * 1000000 div c_tokens) * "
                "(clip2 * 1000000 div c_bigrams) as double))) as long)"
            ).alias("bleu2_nobp_ppm"),
            (F.col("c_tokens") < F.col("r_tokens")).cast("long")
            .alias("bp_would_apply"),
        )
    )
