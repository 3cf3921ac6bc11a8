"""Round-11 live additions.

Wave focus (r10 verdict ask #8 — remaining ENGINE surfaces over more
statistics): the ``_metadata`` hidden-column file audit feeding a
compaction plan, map-typed-column higher-order functions, GROUP BY ALL /
ORDER BY ALL / aggregate FILTER syntax parity, calendar month arithmetic
clamping, and the near-dup-cluster quality election (the
keep-best-of-cluster LLM-curation op composing MinHash candidates + CC +
golden election). A first draft also carried an ntile/percent_rank/
cume_dist query — dropped on the pre-registration name sweep: the
registered ★window_rank_family (queries.py) already pins that surface.
A late twelfth entry (width_bucket_histogram) joined after the first
certification pass; the registered wave is 11 queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register


# ---------------------------------------------------------------------------
# Map-typed column surface: map_from_entries -> transform_values /
# map_filter / map_zip_with, try_element_at lookups
# ---------------------------------------------------------------------------

@register(
    "map_transform_audit",
    oracle="""
    WITH hc AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ), c AS (SELECT h, n FROM hc WHERE event_type = 'click'),
    p AS (SELECT h, n FROM hc WHERE event_type = 'purchase'),
    t AS (SELECT SUM(n) // COUNT(*) AS thr FROM c)
    SELECT COALESCE(c.h, p.h) AS h,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS clicks,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS purchases,
           CAST(COALESCE(c.n, 0) - COALESCE(p.n, 0) AS BIGINT)
             AS click_minus_purchase,
           CAST(COALESCE(c.n * 10, 0) AS BIGINT) AS clicks_x10,
           CAST(CASE WHEN c.n >= t.thr THEN 1 ELSE 0 END AS BIGINT)
             AS is_busy
    FROM c FULL JOIN p ON p.h = c.h CROSS JOIN t
    ORDER BY h
    """,
    doc="Map-typed column surface in one pass — the per-entity "
        "feature-map idiom (counters keyed by hour) a 100 TB profile "
        "store keeps as map<k,v> instead of 24 sparse columns: hourly "
        "click/purchase counts are rolled into map<long,long> via "
        "map_from_entries over an array_sort'ed collect_list (sort makes "
        "the entry order deterministic), then exercised through the "
        "whole higher-order-map family: transform_values (x10 scaling), "
        "map_filter (>= mean threshold, the mean computed by an "
        "aggregate() fold over map_values — never a driver round-trip), "
        "map_zip_with (click-purchase per-hour delta over the KEY UNION, "
        "so hours present on only one side surface), map_contains_key, "
        "and try_element_at (the ANSI-safe lookup — plain element_at "
        "THROWS on a missing map key under ANSI mode). Oracle replays "
        "the semantics relationally (FULL JOIN = key union). Scale: two "
        "map-side-combinable aggregates; the maps are per-entity bounded "
        "(24 keys) so no row ever exceeds a batch.",
)
def q_map_transform_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hc = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.hour("ts").cast("long").alias("k"))
        .agg(F.count("*").cast("long").alias("v"))
    )
    # one conditional global aggregate per side: ALWAYS exactly 1 row,
    # yielding map() (not zero rows) when an event type is entirely
    # absent — a 0-row side of the 1x1 crossJoin would otherwise
    # collapse the whole result while the oracle's FULL JOIN still
    # emits the non-empty side's hours (r11 advice; degenerate-SF edge)
    def _side(etype: str, alias: str):
        return hc.filter(F.col("event_type") == etype).agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("k", "v")))
            ).alias(alias)
        )

    mc = _side("click", "mc")
    mp = _side("purchase", "mp")
    j = (
        mc.crossJoin(mp)  # 1 x 1: the two per-type feature maps
        .withColumn(
            "thr",
            F.expr("IF(size(mc) = 0, 0L,"
                   " aggregate(map_values(mc), 0L, (a, x) -> a + x)"
                   " div size(mc))"),
        )
        .select(
            F.map_zip_with(
                "mc", "mp",
                lambda k, c, p: F.coalesce(c, F.lit(0))
                - F.coalesce(p, F.lit(0)),
            ).alias("diff_m"),
            F.transform_values("mc", lambda k, v: v * 10).alias("x10_m"),
            F.map_filter(
                "mc", lambda k, v: v >= F.col("thr")
            ).alias("busy_m"),
            "mc", "mp",
        )
    )
    return (
        j.select(F.explode("diff_m").alias("h", "d"),
                 "mc", "mp", "x10_m", "busy_m")
        .select(
            F.col("h").cast("long").alias("h"),
            F.coalesce(F.try_element_at("mc", F.col("h")), F.lit(0))
            .cast("long").alias("clicks"),
            F.coalesce(F.try_element_at("mp", F.col("h")), F.lit(0))
            .cast("long").alias("purchases"),
            F.col("d").cast("long").alias("click_minus_purchase"),
            F.coalesce(F.try_element_at("x10_m", F.col("h")), F.lit(0))
            .cast("long").alias("clicks_x10"),
            F.map_contains_key(F.col("busy_m"), F.col("h"))
            .cast("long").alias("is_busy"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL / aggregate FILTER — one SQL text, two engines
# ---------------------------------------------------------------------------

_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE l_discount >= 0.05) AS BIGINT)
         AS n_discounted,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS gross_cents
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "group_by_all_pricing",
    oracle=_GROUP_BY_ALL_SQL,
    doc="Modern-SQL grouping syntax parity pin: GROUP BY ALL (group on "
        "every non-aggregate select item), ORDER BY ALL (order by every "
        "output column — fully deterministic output order), and the "
        "SQL:2003 aggregate FILTER (WHERE ...) clause, in ONE statement "
        "whose text parses and evaluates IDENTICALLY in Spark SQL and "
        "DuckDB — the literal same string is both the query and the "
        "oracle (the pipe_syntax_pricing / luhn pattern). Money stays "
        "order-free via per-row round(x*100)::BIGINT before the SUM. "
        "Scale: plain one-exchange codegen aggregate; FILTER folds into "
        "the aggregate buffer update, adding no second pass.",
)
def q_group_by_all_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, _GROUP_BY_ALL_SQL)


# ---------------------------------------------------------------------------
# Calendar month arithmetic: add_months end-of-month clamping parity
# ---------------------------------------------------------------------------

@register(
    "calendar_month_clamp_audit",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS pri, o_orderdate::DATE AS d,
             CAST(o_orderkey % 25 AS INT) - 12 AS k
      FROM orders
    ), shifted AS (
      SELECT pri, d, k, (d + to_months(k))::DATE AS s FROM base
    )
    SELECT pri,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN day(s) <> day(d) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped,
           CAST(SUM(CASE WHEN s = last_day(s) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_on_month_end,
           CAST(SUM(date_diff('day', d, s)) AS BIGINT) AS sum_shift_days
    FROM shifted GROUP BY pri ORDER BY pri
    """,
    doc="Calendar month arithmetic audit — the billing/retention date "
        "math whose edge case silently corrupts cohort joins: each order "
        "date shifts by k months (k in [-12, +12], derived from the "
        "order key, so both directions and zero are exercised) via "
        "add_months, and the audit counts END-OF-MONTH CLAMPING (Jan 31 "
        "+ 1 month = Feb 28 — day-of-month changed), landings on a "
        "month's last day (last_day parity), and the exact total "
        "day displacement (datediff). DuckDB replays with "
        "date + to_months(k), which clamps by the same proleptic "
        "Gregorian rule — a hash match pins the two engines' calendar "
        "semantics against each other, leap years included (the span "
        "covers 1996/2000). Scale: pure per-row codegen date math, one "
        "exchange on the 5-value priority key.",
)
def q_calendar_month_clamp_audit(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH base AS (
          SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
                 CAST(o_orderkey % 25 AS INT) - 12 AS k
          FROM orders
        ), shifted AS (
          SELECT pri, d, k, add_months(d, k) AS s FROM base
        )
        SELECT pri,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN day(s) <> day(d) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clamped,
               CAST(SUM(CASE WHEN s = last_day(s) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_on_month_end,
               CAST(SUM(datediff(s, d)) AS BIGINT) AS sum_shift_days
        FROM shifted GROUP BY pri ORDER BY pri
    """)


# ---------------------------------------------------------------------------
# DataFrame.transpose() — the Spark 4 pivot-to-wide API, bounded input
# ---------------------------------------------------------------------------

@register(
    "transpose_region_metrics",
    oracle="""
    WITH a AS (
      SELECT r_name,
             CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_nations,
             CAST(COUNT(c_custkey) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_cents
      FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      GROUP BY r_name
    )
    SELECT 'n_nations' AS key,
           (SELECT n_nations FROM a WHERE r_name = 'AFRICA') AS "AFRICA",
           (SELECT n_nations FROM a WHERE r_name = 'AMERICA') AS "AMERICA",
           (SELECT n_nations FROM a WHERE r_name = 'ASIA') AS "ASIA",
           (SELECT n_nations FROM a WHERE r_name = 'EUROPE') AS "EUROPE",
           (SELECT n_nations FROM a WHERE r_name = 'MIDDLE EAST')
             AS "MIDDLE EAST"
    UNION ALL
    SELECT 'n_customers',
           (SELECT n_customers FROM a WHERE r_name = 'AFRICA'),
           (SELECT n_customers FROM a WHERE r_name = 'AMERICA'),
           (SELECT n_customers FROM a WHERE r_name = 'ASIA'),
           (SELECT n_customers FROM a WHERE r_name = 'EUROPE'),
           (SELECT n_customers FROM a WHERE r_name = 'MIDDLE EAST')
    UNION ALL
    SELECT 'bal_cents',
           (SELECT bal_cents FROM a WHERE r_name = 'AFRICA'),
           (SELECT bal_cents FROM a WHERE r_name = 'AMERICA'),
           (SELECT bal_cents FROM a WHERE r_name = 'ASIA'),
           (SELECT bal_cents FROM a WHERE r_name = 'EUROPE'),
           (SELECT bal_cents FROM a WHERE r_name = 'MIDDLE EAST')
    ORDER BY key
    """,
    doc="Spark 4 DataFrame.transpose() — the metrics-to-wide flip every "
        "ops dashboard wants (metrics as rows, regions as columns) that "
        "previously needed a hand-written pivot: per-region nation/"
        "customer counts and balance cents aggregate to a 5-row relation, "
        "then transpose() turns the r_name VALUES into COLUMN NAMES "
        "(including the space in 'MIDDLE EAST') with the remaining "
        "columns stacked into a 'key' column. The oracle hand-builds the "
        "transposed relation with scalar subqueries — a hash match pins "
        "the API's row/column/naming semantics end-to-end. Scale note: "
        "transpose() must enumerate the index values to mint the schema, "
        "so it is strictly a BOUNDED-relation tool (5 regions here) — "
        "the engine rule is aggregate first, transpose the summary, "
        "never the fact table.",
)
def q_transpose_region_metrics(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    agg = (
        region.join(nation,
                    nation["n_regionkey"] == region["r_regionkey"])
        .join(cust, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").cast("long").alias("n_nations"),
            F.count("c_custkey").cast("long").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long").alias("bal_cents"),
        )
        .orderBy("r_name")
    )
    return agg.transpose()


# ---------------------------------------------------------------------------
# Compaction plan over REAL file layout (_metadata hidden column)
# ---------------------------------------------------------------------------

@register(
    "compaction_plan_audit",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT o_custkey % 32 AS pt, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT GREATEST(1, SUM(n_rows) // 10) AS target FROM b
    ), seq AS (
      SELECT pt, n_rows, ROW_NUMBER() OVER (ORDER BY pt) AS rn FROM b
    ), walk(rn, pt, n_rows, bin, acc) AS (
      SELECT rn, pt, n_rows, CAST(1 AS BIGINT), n_rows
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.rn, s.pt, s.n_rows,
             CASE WHEN w.acc + s.n_rows > t.target
                  THEN w.bin + 1 ELSE w.bin END,
             CASE WHEN w.acc + s.n_rows > t.target
                  THEN s.n_rows ELSE w.acc + s.n_rows END
      FROM walk w JOIN seq s ON s.rn = w.rn + 1 CROSS JOIN tot t
    )
    SELECT bin AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_src_files,
           CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
           CAST(SUM(n_rows) * 1000000 // t.target AS BIGINT) AS fill_ppm
    FROM walk w CROSS JOIN tot t
    GROUP BY bin, t.target ORDER BY bin
    """,
    doc="Delta-OPTIMIZE-style compaction plan computed from the REAL "
        "physical layout via the ``_metadata`` hidden column (r10 "
        "verdict ask #8) — the first registry exercise of Spark's "
        "file-source metadata surface: orders are written to a scratch "
        "dir partitioned by a 32-way deterministic bucket (repartition "
        "on the partition key first, so each bucket is exactly one "
        "file), read back, and per-FILE row counts are derived by "
        "grouping ``_metadata.file_path`` — not assumed from the write. "
        "The plan then greedy-packs adjacent buckets into merge bins of "
        "target = total/10 rows (an oversized bucket keeps its own "
        "bin). The oracle recomputes bucket sizes relationally and "
        "replays the greedy fold as a recursive CTE — so a hash match "
        "simultaneously pins (a) the physical one-file-per-bucket "
        "layout (n_src_files counts FILES; a stray second file per "
        "bucket breaks parity) and (b) the fold. The engine's actual "
        "rewriter is ``sources.layouts.compact_parquet``; this query is "
        "the PLANNER a 100 TB table runs first. Scale: file listing is "
        "metadata-sized; since round 12 (r11 verdict ask #4) the "
        "registered fold IS the linear "
        "``sources.layouts.greedy_bin_plan`` applyInPandas path "
        "(500k buckets in 1.7 s) — the bounded-array Catalyst "
        "aggregate() twin it replaced (array_append copies the "
        "accumulator per element: measured O(n^2), 56 s at 50k buckets) "
        "survives only in tests/test_layouts.py's equivalence pin. The "
        "bucket summary is localCheckpoint-ed before cleanup (the "
        "engine's scratch lifecycle rule; caveat as in "
        "minhash_incremental_resume: checkpoint blocks are "
        "unreplicated, so consume the result before executors "
        "recycle).",
)
def q_compaction_plan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources.layouts import greedy_bin_plan

    orders = _t(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="compactplan_")
    try:
        (
            orders.select((F.col("o_custkey") % 32).alias("pt"),
                          "o_orderkey")
            .repartition(32, "pt")
            .write.partitionBy("pt").mode("overwrite").parquet(d)
        )
        files = spark.read.parquet(d).select(
            F.col("pt").cast("long").alias("pt"),
            F.col("_metadata.file_path").alias("fp"),
        )
        # checkpoint the metadata-scale bucket summary: everything after
        # (total, plan, census) derives from these 32 rows, never from
        # the scratch files deleted in finally
        buckets = files.groupBy("pt").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("fp").cast("long").alias("n_files"),
        ).localCheckpoint(eager=True)
        total = buckets.agg(F.sum("n_rows")).first()[0]  # 1-row scalar
        target = max(1, int(total) // 10)
        plan = greedy_bin_plan(
            buckets.select("pt", "n_rows"),
            size_col="n_rows", order_col="pt", target=target,
        )
        out = (
            plan.join(buckets.select("pt", "n_files"), "pt")
            .groupBy(F.col("bin_id").cast("long").alias("bin_id"))
            .agg(
                F.sum("n_files").cast("long").alias("n_src_files"),
                F.sum("n_rows").cast("long").alias("bin_rows"),
            )
            .select(
                "bin_id", "n_src_files", "bin_rows",
                # exact integer div, NOT double / then cast: past 2^53
                # rows*1e6 the IEEE quotient can round up across an
                # integer while the oracle's // floors (r12 review)
                F.expr(f"bin_rows * 1000000 div {int(target)}")
                .cast("long").alias("fill_ppm"),
            )
            .orderBy("bin_id")
        )
        return out
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Near-dup cluster quality election — keep-best-of-cluster curation
# ---------------------------------------------------------------------------

@register(
    "neardup_quality_elect",
    oracle="""
    WITH toks AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM toks
    ), pairs AS (
      -- exact length-band prune: J >= 0.8 implies min(|A|,|B|)/max >= 0.8
      -- (|inter| <= min, |union| >= max), so the band keeps a SUPERSET of
      -- the >= 0.8 pairs and the expensive intersect runs on ~24% of them
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM sh a JOIN sh b
        ON b.doc_id > a.doc_id
       AND len(b.g) * 5 >= len(a.g) * 4 AND len(a.g) * 5 >= len(b.g) * 4
      WHERE len(list_intersect(a.g, b.g)) * 1.0 /
            len(list_distinct(list_concat(a.g, b.g))) >= 0.8
    ), und AS (
      SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs
    ), reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM r JOIN und u ON r.b = u.a
      ) SELECT * FROM r
    ), mem AS (
      SELECT a AS node, MIN(b) AS comp FROM reach GROUP BY a
    ), scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(list_filter(t, x -> x != '')))
                  AS BIGINT) * 1000000 + n_chars AS score
      FROM toks
    ), j AS (
      SELECT m.comp, m.node, s.score
      FROM mem m JOIN scored s ON s.doc_id = m.node
    ), agg AS (
      SELECT comp AS cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM j GROUP BY comp
    ), g AS (
      SELECT comp, node AS kept_doc_id, score AS kept_score,
             ROW_NUMBER() OVER (PARTITION BY comp
                                ORDER BY score DESC, node) AS rn
      FROM j
    )
    SELECT a.cluster_id, a.n_docs, g.kept_doc_id,
           CAST(g.kept_score AS BIGINT) AS kept_score
    FROM agg a JOIN g ON g.comp = a.cluster_id AND g.rn = 1
    ORDER BY a.n_docs DESC, a.cluster_id LIMIT 25
    """,
    doc="Keep-best-of-cluster near-dup curation — the election step real "
        "LLM pipelines run AFTER near-dedup finds clusters (keep the "
        "highest-quality variant, not an arbitrary survivor): MinHash "
        "banded candidates -> exact trigram-Jaccard verify (>= 0.8) -> "
        "connected components -> per-cluster quality election with "
        "score = distinct_tokens * 1e6 + n_chars (lexical diversity "
        "dominates, length tiebreaks, doc_id pins exact ties — the "
        "golden-record pattern from ★entity_resolution_golden applied "
        "to the doc corpus). Output: top-25 clusters (size, kept doc, "
        "score). The oracle computes the exact all-pairs ground truth "
        "and walks the pair graph with a recursive CTE — hash green "
        "simultaneously re-pins LSH recall 1 at these parameters (the "
        "★minhash_dedup invariant) AND the election. Scale: banded "
        "candidate generation (never all-pairs), CC on the "
        "candidate-pair graph only, one grouped census pass; the "
        "election is a struct-max aggregate, no window over the corpus.",
)
def q_neardup_quality_elect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        ngram_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(docs, "text", "doc_id",
                                   num_hashes=32, bands=16)
    ver = (
        ngram_jaccard(cands, docs, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    comp = connected_components(ver, "id_a", "id_b")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    scored = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("long") * 1000000
         + F.col("n_chars")).alias("score"),
    )
    j = comp.join(scored, comp["node"] == scored["doc_id"]).select(
        "comp", "node", "score"
    )
    agg = j.groupBy("comp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max(F.struct(F.col("score"), (-F.col("node")).alias("neg")))
        .alias("best"),
    )
    return (
        agg.select(
            F.col("comp").cast("long").alias("cluster_id"),
            "n_docs",
            (-F.col("best.neg")).cast("long").alias("kept_doc_id"),
            F.col("best.score").cast("long").alias("kept_score"),
        )
        .orderBy(F.desc("n_docs"), "cluster_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# SQL session variables + EXECUTE IMMEDIATE (dynamic SQL surface)
# ---------------------------------------------------------------------------

@register(
    "session_variable_pricing",
    oracle="""
    WITH t AS (
      SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) // COUNT(*)
               AS thr
      FROM customer
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS cents_above
    FROM customer, t
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) >= t.thr
    GROUP BY c_nationkey ORDER BY nationkey
    """,
    doc="SQL session variables + dynamic SQL — two Spark 4 surfaces in "
        "one flow: DECLARE OR REPLACE VARIABLE holds a data-derived "
        "threshold (SET VAR ... = (scalar subquery): the mean balance in "
        "integer cents — SUM(BIGINT) div COUNT so the threshold is "
        "order-free, never a double fold), then EXECUTE IMMEDIATE runs a "
        "parameterized statement binding the variable through USING — "
        "the session-variable twin of ★parameterized_sql_binding's "
        "args= path. Output: per-nation count and cents of "
        "above-the-mean customers. The oracle inlines the threshold as "
        "a scalar subquery. Scale: one metadata-free pass computes the "
        "threshold (map-side combinable), one filtered aggregate; the "
        "variable lives in the session, not the plan, so the inner "
        "statement plans exactly like its literal form.",
)
def q_session_variable_pricing(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import register_tables

    register_tables(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE bal_thr_cents BIGINT")
    spark.sql("""
        SET VAR bal_thr_cents = (
          SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) div COUNT(*)
          FROM customer)
    """)
    return spark.sql("""
        EXECUTE IMMEDIATE
          'SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                  CAST(COUNT(*) AS BIGINT) AS n_above,
                  CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                       AS BIGINT) AS cents_above
           FROM customer
           WHERE CAST(round(c_acctbal * 100) AS BIGINT) >= ?
           GROUP BY c_nationkey ORDER BY nationkey'
          USING bal_thr_cents
    """)


# ---------------------------------------------------------------------------
# DataSketches HLL: mergeable sketches + union, guarantee-bracket oracle
# ---------------------------------------------------------------------------

@register(
    "hll_sketch_union_bracket",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           CAST(1 AS BIGINT) AS est_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Mergeable-sketch distinct counting (Apache DataSketches HLL, "
        "the Spark 4 hll_sketch_agg/hll_union_agg/hll_sketch_estimate "
        "family) — the surface approx_count_distinct does NOT cover: "
        "sketches are materializable binary state, so per-shard sketches "
        "(here: per event_type x 8-day bucket) union WITHOUT rescanning "
        "— the incremental-rollup contract a 100 TB metrics store needs "
        "(yesterday's sketches + today's delta = today's total). "
        "Guarantee-bracket oracle (the house pattern for "
        "non-replayable-but-deterministic estimators): output carries "
        "the EXACT distinct (computed alongside) and a flag that the "
        "lgK=14 estimate (~0.8% rse) landed within 5%; the oracle "
        "expects every flag true — drift breaks the hash. Scale: the "
        "sketch aggregate is map-side combinable and the union runs "
        "over sketch COUNT, not rows; exact distinct is the one "
        "full-key shuffle (dropped in production — it exists here to "
        "grade the sketch).",
)
def q_hll_sketch_union_bracket(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH shard AS (
          SELECT event_type, CAST(user_id % 8 AS BIGINT) AS bucket,
                 hll_sketch_agg(user_id, 14) AS s
          FROM events GROUP BY event_type, bucket
        ), merged AS (
          SELECT event_type,
                 hll_sketch_estimate(hll_union_agg(s)) AS est
          FROM shard GROUP BY event_type
        ), exact AS (
          SELECT event_type,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
          FROM events GROUP BY event_type
        )
        SELECT e.event_type, e.n_exact,
               CAST(CASE WHEN abs(m.est - e.n_exact) <= 0.05 * e.n_exact
                         THEN 1 ELSE 0 END AS BIGINT) AS est_within_5pct
        FROM exact e JOIN merged m ON m.event_type = e.event_type
        ORDER BY e.event_type
    """)


# ---------------------------------------------------------------------------
# SQL table function (RETURNS TABLE) with correlated LATERAL expansion
# ---------------------------------------------------------------------------

@register(
    "sql_table_udf_tiers",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), expanded AS (
      SELECT pri, 'base' AS part, cents AS amount FROM o
      UNION ALL
      SELECT pri, 'fee', cents // 50 FROM o
      UNION ALL
      SELECT pri, 'rebate', -(cents // 200) FROM o
    )
    SELECT pri, part,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total_amount
    FROM expanded GROUP BY pri, part ORDER BY pri, part
    """,
    doc="SQL table function — CREATE FUNCTION ... RETURNS TABLE (the "
        "declarative UDTF twin of the Python UDTF surface, macro-"
        "expanded by the analyzer with NO Python worker): a price-"
        "breakdown function emits three rows (base / fee / rebate, all "
        "integer-cents arithmetic) per order and is applied with a "
        "CORRELATED LATERAL join (the TVF body references the outer "
        "order's cents; probed: inline VALUES bodies cannot correlate, "
        "UNION ALL bodies can). Output: per-priority totals per "
        "breakdown part. The oracle replays the expansion as UNION ALL. "
        "Scale: the lateral TVF decorrelates to projection + union — "
        "per-row codegen, no join, no Python; one exchange for the "
        "final rollup.",
)
def q_sql_table_udf_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import register_tables

    register_tables(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION price_tiers(cents BIGINT)
        RETURNS TABLE (part STRING, amount BIGINT)
        RETURN SELECT 'base' AS part, cents AS amount
               UNION ALL SELECT 'fee', cents div 50
               UNION ALL SELECT 'rebate', -(cents div 200)
    """)
    return spark.sql("""
        WITH o AS (
          SELECT o_orderpriority AS pri,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        )
        SELECT pri, t.part,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(t.amount) AS BIGINT) AS total_amount
        FROM o, LATERAL price_tiers(o.cents) t
        GROUP BY pri, t.part ORDER BY pri, t.part
    """)


# ---------------------------------------------------------------------------
# Train/val/test split leakage audit — near-dups straddling split borders
# ---------------------------------------------------------------------------

def _split_leakage_oracle() -> str:
    from .functions.text import portable_hash60_sql

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents)
    ), pairs AS (
      -- exact length-band prune (see neardup_quality_elect oracle)
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM sh a JOIN sh b
        ON b.doc_id > a.doc_id
       AND len(b.g) * 5 >= len(a.g) * 4 AND len(a.g) * 5 >= len(b.g) * 4
      WHERE len(list_intersect(a.g, b.g)) * 1.0 /
            len(list_distinct(list_concat(a.g, b.g))) >= 0.8
    ), sp AS (
      SELECT doc_id,
             CASE WHEN {h} % 100 < 80 THEN 'train'
                  WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END AS split
      FROM documents
    ), tagged AS (
      SELECT LEAST(sa.split, sb.split) AS split_lo,
             GREATEST(sa.split, sb.split) AS split_hi,
             p.ia, p.ib
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.ia
      JOIN sp sb ON sb.doc_id = p.ib
      WHERE sa.split <> sb.split
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY split_lo, split_hi
                                   ORDER BY ia, ib) AS rn
      FROM tagged
    )
    SELECT t.split_lo, t.split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_leaks,
           CAST(MAX(r.ia) AS BIGINT) AS example_a,
           CAST(MAX(r.ib) AS BIGINT) AS example_b
    FROM tagged t
    JOIN ranked r ON r.split_lo = t.split_lo AND r.split_hi = t.split_hi
                 AND r.rn = 1
    GROUP BY t.split_lo, t.split_hi
    ORDER BY t.split_lo, t.split_hi
    """


@register(
    "neardup_split_leakage",
    oracle=_split_leakage_oracle(),
    doc="Near-dup TEXT leakage across split borders — distinct from BOTH "
        "★contamination_overlap (external benchmark overlap) and "
        "★split_leakage_audit (ENTITY leakage: one customer's rows in "
        "two splits): near-duplicate pairs that STRADDLE the engine's own "
        "deterministic 80/10/10 train/val/test split "
        "(★train_val_test_split's md5 assignment, replayed bit-exact) "
        "leak training text into evaluation and silently inflate eval "
        "scores; a curation pipeline runs this after split assignment "
        "and before training. Candidates come from the banded MinHash "
        "path + exact trigram-Jaccard verify (>= 0.8, recall-1 "
        "parameters); output: per (split, split) border, the leak count "
        "and the lexicographically first example pair. Oracle: exact "
        "all-pairs ground truth + recursive split replay. Scale: the "
        "candidate path is the sub-quadratic banded one; split tagging "
        "is two broadcast-able hash joins on the (small) pair set.",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60
    from .operators.dedup import minhash_lsh_candidates, ngram_jaccard

    docs = _t(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(docs, "text", "doc_id",
                                   num_hashes=32, bands=16)
    pairs = (
        ngram_jaccard(cands, docs, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    b = portable_hash60(F.col("doc_id").cast("string")) % 100
    sp = docs.select(
        "doc_id",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        .alias("split"),
    )
    tagged = (
        pairs
        .join(sp.select(F.col("doc_id").alias("id_a"),
                        F.col("split").alias("sa")), "id_a")
        .join(sp.select(F.col("doc_id").alias("id_b"),
                        F.col("split").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
            "id_a", "id_b",
        )
    )
    return (
        tagged.groupBy("split_lo", "split_hi")
        .agg(
            F.count("*").cast("long").alias("n_leaks"),
            F.min(F.struct("id_a", "id_b")).alias("ex"),
        )
        .select(
            "split_lo", "split_hi", "n_leaks",
            F.col("ex.id_a").cast("long").alias("example_a"),
            F.col("ex.id_b").cast("long").alias("example_b"),
        )
        .orderBy("split_lo", "split_hi")
    )



# ---------------------------------------------------------------------------
# width_bucket equi-width histogram (with under/overflow buckets)
# ---------------------------------------------------------------------------

@register(
    "width_bucket_histogram",
    oracle="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), b AS (
      SELECT cents,
             CASE WHEN cents < 5000000 THEN 0
                  WHEN cents >= 35000000 THEN 11
                  ELSE (cents - 5000000) // 3000000 + 1 END AS bucket
      FROM c
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="SQL:2016 width_bucket — the equi-width histogram assignment the "
        "registry's quantile family (equi-HEIGHT) does not cover, "
        "including its under/overflow semantics: order totals in integer "
        "cents bucket into 10 equal widths over [50k$, 350k$), with "
        "bucket 0 catching values below the range and bucket 11 at-or-"
        "above it (both populated at every SF — the semantics the pin is "
        "FOR). The oracle replays the assignment arithmetically "
        "((x-lo) // width + 1 with the two clamps); integer cents and a "
        "width whose quotients sit far from double-rounding boundaries "
        "(< 2^26) make floor(double-div) == integer-div exact, so the "
        "builtin's internal double math cannot drift from the integer "
        "replay. Scale: pure per-row codegen + one 12-group exchange.",
)
def q_width_bucket_histogram(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH c AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        )
        SELECT CAST(width_bucket(cents, 5000000, 35000000, 10) AS BIGINT)
                 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(cents) AS BIGINT) AS min_cents,
               CAST(MAX(cents) AS BIGINT) AS max_cents
        FROM c GROUP BY bucket ORDER BY bucket
    """)
