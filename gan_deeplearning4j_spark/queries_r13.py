"""Round-12 queries.

Wave focus: parser/scripting surfaces not yet exercised (SQL UNPIVOT
keyword incl. INCLUDE NULLS, lateral column aliases, SQL-scripting FOR
cursor), the regex position/count family, the mask() redaction builtin,
ISO-week calendar boundary semantics, banker's-rounding ties, and
try_sum overflow-to-NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import register


# ---------------------------------------------------------------------------
# ISO-week calendar boundaries (isoyear != calendar year at the edges)
# ---------------------------------------------------------------------------

@register(
    "iso_week_boundaries",
    oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS dt,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(isoyear(dt) AS BIGINT) AS iso_year,
           CAST(weekofyear(dt) AS BIGINT) AS iso_week,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(CASE WHEN isoyear(dt) <> year(dt) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross_year
    FROM d GROUP BY 1, 2
    HAVING SUM(CASE WHEN isoyear(dt) <> year(dt) THEN 1 ELSE 0 END) > 0
    ORDER BY 1, 2
    """,
    doc="ISO-8601 week calendar boundary audit — the week-over-week "
        "reporting bug factory: late-December / early-January dates "
        "belong to a DIFFERENT ISO week-year than their calendar year "
        "(1996-12-30 is week 1 of ISO 1997; 1999-01-01 is week 53 of "
        "ISO 1998), and a rollup keyed on (year(dt), weekofyear(dt)) "
        "silently splits those weeks in two. The audit rolls orders up "
        "per (iso_year, iso_week) and keeps exactly the boundary weeks "
        "(rows where some member's calendar year differs), over a span "
        "with leap years and a 53-week ISO year. Spark: weekofyear + "
        "extract(YEAROFWEEK); DuckDB: weekofyear + isoyear — both "
        "ISO-8601, pinned against each other. Scale: per-row codegen "
        "date math, one exchange on the ~14 boundary-week keys.",
)
def q_iso_week_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS dt,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        )
        SELECT CAST(extract(YEAROFWEEK FROM dt) AS BIGINT) AS iso_year,
               CAST(weekofyear(dt) AS BIGINT) AS iso_week,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS cents,
               CAST(SUM(CASE WHEN extract(YEAROFWEEK FROM dt) <> year(dt)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_year
        FROM d GROUP BY 1, 2
        HAVING SUM(CASE WHEN extract(YEAROFWEEK FROM dt) <> year(dt)
                        THEN 1 ELSE 0 END) > 0
        ORDER BY 1, 2
    """)


# ---------------------------------------------------------------------------
# Lateral column aliases — derived columns chained in ONE select
# ---------------------------------------------------------------------------

_LATERAL_ALIAS_SQL = """
WITH priced AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp,
         CAST(floor(cents * disc_bp / 10000) AS BIGINT) AS disc_cents,
         cents - disc_cents AS net_cents,
         net_cents - CAST(floor(net_cents * 4 / 100) AS BIGINT)
           AS after_fee_cents
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(net_cents) AS BIGINT) AS net_cents,
       CAST(SUM(after_fee_cents) AS BIGINT) AS after_fee_cents
FROM priced GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "lateral_alias_pricing_chain",
    oracle=_LATERAL_ALIAS_SQL,
    doc="Lateral column aliases — a SELECT item referencing an alias "
        "defined EARLIER IN THE SAME SELECT LIST (net_cents built from "
        "cents and disc_cents, after_fee_cents from net_cents), the "
        "Spark 3.4+ surface that removes the stacked-CTE boilerplate "
        "every derived-pricing query used to need. The chain is three "
        "aliases deep; the discount leg runs in integer basis points "
        "(floor(cents * bp / 1e4) — CAST(double AS BIGINT) itself diverges, DuckDB rounds where Spark truncates, and round(price*discount*100) "
        "sits on .5 double boundaries and splits engines at some SFs, "
        "the round-4 derived-price lesson re-learned here at "
        "certification). One SQL text is both query and "
        "oracle — DuckDB resolves same-select alias references "
        "identically. Scale: the analyzer inlines the aliases into one "
        "projection — per-row codegen, no extra plan nodes; one "
        "exchange on the 3-value flag key.",
)
def q_lateral_alias_pricing_chain(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, _LATERAL_ALIAS_SQL)


# ---------------------------------------------------------------------------
# SQL UNPIVOT keyword (incl. INCLUDE NULLS semantics)
# ---------------------------------------------------------------------------

@register(
    "unpivot_sql_include_nulls",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
             CAST(ascii(o_orderstatus) AS BIGINT) AS status_code,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 97 AS BIGINT) END AS risk_score
      FROM orders
    ), long AS (
      SELECT pri, 'total_cents' AS metric, total_cents AS v FROM base
      UNION ALL SELECT pri, 'status_code', status_code FROM base
      UNION ALL SELECT pri, 'risk_score', risk_score FROM base
    )
    SELECT pri, metric,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_nonnull,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM long GROUP BY pri, metric ORDER BY pri, metric
    """,
    doc="SQL UNPIVOT keyword with INCLUDE NULLS — the parser surface the "
        "registered ★unpivot_metrics (DataFrame .unpivot API) does not "
        "touch, and the semantics worth pinning: default UNPIVOT DROPS "
        "rows whose measure is NULL, silently shrinking the long table; "
        "INCLUDE NULLS keeps them (every metric gets exactly n_base "
        "rows — the n_rows column proves it, n_nonnull shows the "
        "planted NULL rate on risk_score). The oracle replays the "
        "reshape as UNION ALL (the relational definition of UNPIVOT). "
        "Scale: UNPIVOT expands rows 3x scan-side with no shuffle — "
        "the exchange happens after the rollup on the (pri, metric) "
        "key.",
)
def q_unpivot_sql_include_nulls(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH base AS (
          SELECT o_orderpriority AS pri,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
                 CAST(ascii(o_orderstatus) AS BIGINT) AS status_code,
                 CASE WHEN o_orderkey % 3 = 0 THEN NULL
                      ELSE CAST(o_orderkey % 97 AS BIGINT) END AS risk_score
          FROM orders
        ), long AS (
          SELECT pri, metric, v
          FROM base
          UNPIVOT INCLUDE NULLS (
            v FOR metric IN (total_cents, status_code, risk_score)
          )
        )
        SELECT pri, metric,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(v) AS BIGINT) AS n_nonnull,
               CAST(SUM(v) AS BIGINT) AS sum_v
        FROM long GROUP BY pri, metric ORDER BY pri, metric
    """)


# ---------------------------------------------------------------------------
# SQL scripting FOR cursor (ordered row iteration, order-sensitive fold)
# ---------------------------------------------------------------------------

@register(
    "sql_scripting_for_cursor",
    oracle="""
    WITH seq AS (
      SELECT o_orderpriority AS pri,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) % 9973
                  AS BIGINT) AS x,
             ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS rn
      FROM orders GROUP BY o_orderpriority
    ), walk AS (
      WITH RECURSIVE w(rn, acc) AS (
        SELECT rn, x FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.rn, (w.acc * 31 + s.x) % 1000000007
        FROM w JOIN seq s ON s.rn = w.rn + 1
      ) SELECT * FROM w
    )
    SELECT CAST((SELECT MAX(rn) FROM walk) AS BIGINT) AS n_steps,
           CAST((SELECT acc FROM walk ORDER BY rn DESC LIMIT 1) AS BIGINT)
             AS fold_acc
    """,
    doc="SQL-scripting FOR cursor — the row-iteration scripting surface "
        "★sql_scripting_compound's WHILE loop does not touch: FOR rec AS "
        "<ordered query> DO iterates the cursor IN QUERY ORDER, proven "
        "by an order-sensitive polynomial fold (acc = acc*31 + x mod p "
        "— any permutation of the 5 per-priority revenue residues "
        "changes the result). The oracle replays the fold as a "
        "per-step recursive CTE over the same ordered sequence. Scale: "
        "scripting is a DRIVER-side control surface by design — the "
        "cursor here is the 5-row aggregate, never the fact table; the "
        "heavy lifting stays in the one aggregate the loop body reads.",
)
def q_sql_scripting_for_cursor(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import scripting, sql

    with scripting(spark):
        return sql(spark, sf_dir, """
        BEGIN
          DECLARE acc BIGINT DEFAULT 0;
          DECLARE n_steps BIGINT DEFAULT 0;
          FOR rec AS
            SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        % 9973 AS BIGINT) AS x
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority
          DO
            IF n_steps = 0 THEN
              SET acc = rec.x;
            ELSE
              SET acc = (acc * 31 + rec.x) % 1000000007;
            END IF;
            SET n_steps = n_steps + 1;
          END FOR;
          SELECT n_steps, acc AS fold_acc;
        END
        """)


# ---------------------------------------------------------------------------
# mask() builtin vs from-scratch character-class replay
# ---------------------------------------------------------------------------

@register(
    "mask_builtin_redact",
    oracle="""
    WITH ids AS (
      SELECT s_nationkey,
             concat('ID-', upper(substr(s_name, 1, 8)), '-',
                    CAST(s_suppkey * 37 AS VARCHAR)) AS raw
      FROM supplier
    ), masked AS (
      SELECT s_nationkey,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
               AS m
      FROM ids
    )
    SELECT m AS masked_shape,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations
    FROM masked GROUP BY m ORDER BY m
    """,
    doc="mask() — the Spark 3.5 data-redaction builtin (upper -> X, "
        "lower -> x, digit -> n, other chars kept), the engine-native "
        "path the regex-based ★text_redact predates: synthetic supplier "
        "identifiers are masked and grouped by their masked SHAPE — the "
        "cardinality-preserving redaction audit a privacy pipeline runs "
        "to verify masked exports stay joinable on shape without "
        "leaking values. The oracle replays the builtin with three "
        "global character-class regexp_replace passes — a hash match "
        "pins mask()'s exact default replacement table. Scale: per-row "
        "codegen string work; the shape rollup is the one exchange.",
)
def q_mask_builtin_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH ids AS (
          SELECT s_nationkey,
                 concat('ID-', upper(substr(s_name, 1, 8)), '-',
                        CAST(s_suppkey * 37 AS STRING)) AS raw
          FROM supplier
        ), masked AS (
          SELECT s_nationkey, mask(raw) AS m FROM ids
        )
        SELECT m AS masked_shape,
               CAST(COUNT(*) AS BIGINT) AS n_ids,
               CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations
        FROM masked GROUP BY m ORDER BY m
    """)


# ---------------------------------------------------------------------------
# regexp_count / regexp_instr / regexp_substr position family
# ---------------------------------------------------------------------------

@register(
    "regexp_position_family",
    oracle="""
    WITH m AS (
      SELECT p_partkey,
             len(regexp_extract_all(p_name, '[aeiou]{2}')) AS n_vv,
             regexp_extract(p_name, '[aeiou]{2}') AS first_vv
      FROM part
    ), pos AS (
      SELECT p_partkey, n_vv,
             CASE WHEN first_vv = '' THEN 0
                  ELSE strpos(p_name, first_vv) END AS first_pos
      FROM m JOIN part USING (p_partkey)
    )
    SELECT CAST(n_vv AS BIGINT) AS n_double_vowels,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(first_pos) AS BIGINT) AS sum_first_pos
    FROM pos GROUP BY n_vv ORDER BY n_vv
    """,
    doc="The regex position/count family (Spark 3.5 regexp_count, "
        "regexp_instr, regexp_substr) — counting and LOCATING pattern "
        "hits, not just extracting them: per part name, the number of "
        "non-overlapping double-vowel runs and the 1-based position of "
        "the first. DuckDB has no regexp_instr; the oracle replays it "
        "as strpos(name, first_match) — sound because the regex "
        "LEFTMOST match is by definition the earliest occurrence of "
        "any matching text, so the literal position of the matched "
        "text equals the regex match position (both engines leftmost, "
        "non-overlapping; RE2-safe class pattern). Scale: per-row "
        "codegen regex; one exchange on the small count key.",
)
def q_regexp_position_family(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH m AS (
          SELECT p_partkey,
                 CAST(regexp_count(p_name, '[aeiou]{2}') AS BIGINT)
                   AS n_vv,
                 CAST(regexp_instr(p_name, '[aeiou]{2}') AS BIGINT)
                   AS first_pos
          FROM part
        )
        SELECT n_vv AS n_double_vowels,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(first_pos) AS BIGINT) AS sum_first_pos
        FROM m GROUP BY n_vv ORDER BY n_vv
    """)


# ---------------------------------------------------------------------------
# bround (banker's rounding) vs round — the half-even semantics pin
# ---------------------------------------------------------------------------

@register(
    "bround_half_even_audit",
    oracle="""
    WITH h AS (
      SELECT c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) / 2.0 AS x
      FROM customer
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN x = floor(x) + 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_halves,
           CAST(SUM(CAST(round_even(x, 0) AS BIGINT)) AS BIGINT)
             AS sum_bankers,
           CAST(SUM(CAST(round(x) AS BIGINT)) AS BIGINT) AS sum_half_away
    FROM h GROUP BY c_nationkey ORDER BY nationkey
    """,
    doc="Banker's rounding (bround, IEEE 754 roundTiesToEven — the "
        "accounting aggregate rule that removes the systematic upward "
        "bias half-away-from-zero accumulates) pinned against plain "
        "round on EXACT tie inputs: integer cents divided by 2.0 are "
        "exactly representable doubles, so odd cents sit precisely on "
        ".5 and the two rules MUST diverge there (n_exact_halves counts "
        "the battleground rows; the two sums differ by the odd-even "
        "split). DuckDB replays bround with its round_even builtin — a "
        "hash match pins both engines' tie tables against each other, "
        "negative halves included (acctbal < 0 exists: -2.5 -> -2). "
        "Scale: per-row codegen arithmetic, one exchange on the nation "
        "key.",
)
def q_bround_half_even_audit(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH h AS (
          SELECT c_nationkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) / 2.0 AS x
          FROM customer
        )
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN x = floor(x) + 0.5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_halves,
               CAST(SUM(CAST(bround(x) AS BIGINT)) AS BIGINT)
                 AS sum_bankers,
               CAST(SUM(CAST(round(x) AS BIGINT)) AS BIGINT)
                 AS sum_half_away
        FROM h GROUP BY c_nationkey ORDER BY nationkey
    """)


# ---------------------------------------------------------------------------
# try_sum overflow semantics (NULL, not wraparound, not a crash)
# ---------------------------------------------------------------------------

@register(
    "try_sum_overflow_audit",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT)
               * CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 100000000000 ELSE 1 END AS x
      FROM orders
    ), agg AS (
      SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(x AS HUGEINT)) AS s
      FROM v GROUP BY pri
    )
    SELECT pri, n_orders,
           CAST(CASE WHEN s > 9223372036854775807 THEN NULL
                     ELSE s END AS BIGINT) AS total,
           CAST(CASE WHEN s > 9223372036854775807 THEN 1 ELSE 0 END
                AS BIGINT) AS overflowed
    FROM agg ORDER BY pri
    """,
    doc="try_sum — the overflow-tolerant aggregate (Spark 3.5 try_* "
        "family): the '1-URGENT' group's cents are scaled by 1e11 "
        "(per-row products stay under 2^63; every value POSITIVE, so "
        "partial sums are monotone and the overflow decision is "
        "partition-layout-INDEPENDENT — the property that makes this "
        "query certifiable under the shuffle3 perturbation), its group "
        "sum crosses 2^63 at every SF and try_sum returns NULL instead "
        "of wrapping or throwing (plain SUM under ANSI mode THROWS "
        "ARITHMETIC_OVERFLOW here); the other four groups stay exact. "
        "The oracle computes the same sums in HUGEINT and applies the "
        "int64 bound explicitly. Scale: map-side-combinable aggregate, "
        "one exchange on the 5-value priority key.",
)
def q_try_sum_overflow_audit(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        WITH v AS (
          SELECT o_orderpriority AS pri,
                 CAST(round(o_totalprice * 100) AS BIGINT)
                   * CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 100000000000L ELSE 1L END AS x
          FROM orders
        )
        SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(try_sum(x) AS BIGINT) AS total,
               CAST(CASE WHEN try_sum(x) IS NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS overflowed
        FROM v GROUP BY pri ORDER BY pri
    """)
