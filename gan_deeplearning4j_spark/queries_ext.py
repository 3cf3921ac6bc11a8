"""Round-3 surface widening: TPC-H query shapes + training-data pipeline ops.

Two families, both first-class per the engine's north-star scope:

1. Relational shapes the reference's users run as ad-hoc analysis around the
   GAN pipeline (reference analogue: the notebook's pandas slicing/eval
   cells, gan.ipynb raw 399-438, generalized to the TPC-H patterns those
   cells degenerate from).
2. LLM-training-data pipeline operators (split/mix/pack/contamination/
   substring-dedup) — the 100 TB curation stages that run between raw scans
   and the tensor kernels.

Every query is registered with a DuckDB oracle unless marked otherwise, and
every computed column is aliased identically in both engines.  Cross-engine
float discipline: money → ``CAST(floor(x*100) AS BIGINT)`` cents, ratios →
``floor(x*1e6)`` ppm, fold-order-sensitive vector math → Spark ``aggregate``
(left fold) paired with DuckDB ``list_reduce`` (left fold) so the doubles are
bit-identical before any rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.dates import in_year
from .functions.money import cents_nonneg, cents_signed

from .functions.windows import bounded_window
from .functions.text import portable_hash60_sql
from .operators.dedup import _P, shingle_hashes
from .operators.relational import salted_join
from .registry import _t, register

# ---------------------------------------------------------------------------
# DuckDB fragments shared by the gram-hash oracles (replaying
# operators.dedup.gram_hash_seq / shingle_hashes exactly)
# ---------------------------------------------------------------------------

_TH_SQL = (
    "list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'), "
    f"t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {_P})"
)


def _gram_seq_sql(k: int) -> str:
    """DuckDB expression for the positional k-gram hash sequence over a
    column ``th`` (token hashes), mirroring ``gram_hash_seq``: rolling
    ``h*524287 + next mod P`` combine, 0-padded past the document end."""
    g = "th[i]"
    for step in range(1, k):
        g = f"(({g}) * 524287 + coalesce(th[i+{step}], 0)) % {_P}"
    return (
        f"list_transform(range(1, greatest(len(th) - {k - 1}, 1) + 1), "
        f"i -> {g})"
    )


# ---------------------------------------------------------------------------
# TPC-H query-shape widening (q7, q10, q13, q15, q17, q22 adapted to the
# corpus schema: no partsupp table, no phone/comment columns)
# ---------------------------------------------------------------------------

@register(
    "tpch_q13_order_dist",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_cust
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: customer order-count distribution via left outer "
        "join with a join-side predicate, then a second (tiny) aggregation "
        "over the counts. Scale: one shuffle join on custkey + one map-side-"
        "combinable re-agg whose key space is |distinct counts| (~100)",
)
def q_tpch_q13_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_cust"))


@register(
    "tpch_q10_returned_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY rev_cents DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: top-20 customers by returned-item revenue in a "
        "quarter. Scale: the orders quarter filter is pushed to the scan, "
        "the orders↔lineitem fact join shuffles on orderkey, nation "
        "broadcasts, top-20 via TakeOrderedAndProject (no global sort)",
)
def q_tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    # per-row integer cents before the SUM: identical IEEE doubles round
    # identically in both engines, and the bigint sum is then exact and
    # summation-order-free (floor(SUM(double)*100) sits one ulp from a
    # boundary often enough to flake — seen on tpch_q22 at sf0.01)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents).alias("rev_cents"))
        .orderBy(F.desc("rev_cents"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.rev_cents
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_cents = (SELECT MAX(rev_cents) FROM rev)
    """,
    doc="TPC-H Q15 shape: top supplier by quarterly revenue — aggregate once, "
        "reuse it both as the join input and the MAX scalar (the view of the "
        "original). Scale: one fact agg keyed by suppkey (map-side partial), "
        "the MAX is a scalar broadcast, supplier join broadcasts",
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("rev_cents"))
    mx = rev.agg(F.max("rev_cents").alias("mx"))
    top = rev.join(F.broadcast(mx), rev.rev_cents == F.col("mx")).drop("mx")
    return (
        F.broadcast(top)
        .join(sup, top.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "rev_cents")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT CAST(floor(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                      / 7.0) AS BIGINT) AS avg_yearly_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
    doc="TPC-H Q17 shape: small-quantity revenue with a correlated per-part "
        "AVG subquery, decorrelated as groupBy(partkey).avg + join-back (the "
        "plan Catalyst would derive from the subquery form). Cross-engine "
        "exactness: l_quantity values are integral so the AVG numerator is "
        "an exact double regardless of summation order. Scale: the brand "
        "filter semi-joins lineitem via broadcast before the avg, so both "
        "aggregations run over ~1/25 of the fact table",
)
def q_tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    li = _t(spark, sf_dir, "lineitem")
    li_b = li.join(
        part.select("p_partkey"),  # part-scale even post-brand-filter: AQE decides
        li.l_partkey == F.col("p_partkey"),
    ).drop("p_partkey")
    lim = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_lim")
    )
    small = li_b.join(lim, "l_partkey").filter(  # per-partkey agg grows with SF
        F.col("l_quantity") < F.col("qty_lim")
    )
    cents = cents_nonneg(F.col("l_extendedprice"))
    return small.agg(
        F.floor(F.sum(cents) / 7.0).cast("long").alias("avg_yearly_cents")
    )


@register(
    "tpch_q22_idle_balance",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS n_cust,
           CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS totbal_cents
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-06-01'
      )
    GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no recent "
        "orders — uncorrelated scalar AVG subquery (broadcast) + anti join "
        "+ group. Scale: the anti join shuffles on custkey (orders is a fact "
        "table, pre-filtered by the pushed-down date predicate); the scalar "
        "is a 1-row broadcast",
)
def q_tpch_q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-06-01"))
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    idle = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        # per-row integer cents before the SUM: c_acctbal doubles are
        # ~2-decimal so round(x*100) is engine-invariant, and the bigint sum
        # is then exact and summation-order-free (a floor(SUM(double)*100)
        # surrogate hit an ulp boundary across engines at sf0.01)
        F.sum(cents_signed(F.col("c_acctbal"))).alias(
            "totbal_cents"
        ),
    )


@register(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    doc="TPC-H Q7 shape: bilateral shipping volume by year — the same nation "
        "dim joined twice under different roles. Scale: both nation joins "
        "broadcast (and the nation filter prunes supplier/customer before "
        "the fact joins); lineitem↔orders is the one big shuffle",
)
def q_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    pair = ["NATION_1", "NATION_2"]
    n1 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    )
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)  # supplier-scale: AQE decides
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(cents).alias("rev_cents"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (split / mix / pack / contamination /
# substring dedup) — the LLM-curation stages of the north-star scope
# ---------------------------------------------------------------------------

@register(
    "train_val_test_split",
    oracle=f"""
    SELECT source, split, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM (
      SELECT source, doc_id,
             CASE WHEN {portable_hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 80
                  THEN 'train'
                  WHEN {portable_hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90
                  THEN 'val' ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY source, split
    """,
    doc="Deterministic 80/10/10 train/val/test split by md5 of the document "
        "key — stable under re-partitioning, re-runs, and corpus growth "
        "(a given doc never migrates between splits), unlike rand()-based "
        "splits which are partition-layout-dependent. Pure row-local "
        "projection: no shuffle until the (tiny) audit aggregation",
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    b = portable_hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        docs.select("source", "doc_id", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "substring_dup_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TH_SQL} AS th FROM documents
    ), g AS (
      SELECT doc_id, list_distinct({_gram_seq_sql(12)}) AS seq
      FROM (SELECT doc_id, th FROM base)
    ), e AS (
      SELECT doc_id, unnest(seq) AS span_hash FROM g
    )
    SELECT span_hash, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM e
    GROUP BY span_hash
    HAVING COUNT(*) >= 2
    """,
    doc="Exact-substring duplicate spans (Lee et al. 2022 'Deduplicating "
        "Training Data Makes Language Models Better', arXiv:2107.06499, "
        "hashed-window form): 12-token rolling-hash spans shared by >= 2 "
        "documents. Scale: tokens are hashed once per doc (linear zip_with "
        "chain, no span strings materialized), the only shuffle carries "
        "(span_hash, doc_id) pairs with map-side distinct; the group key is "
        "the 31-bit span hash so skew is bounded by true duplication",
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    grams = shingle_hashes(F.col("text"), 12)
    return (
        docs.select("doc_id", F.explode(grams).alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "contamination_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_TH_SQL} AS th FROM documents
    ), g AS (
      SELECT doc_id, source, list_distinct({_gram_seq_sql(8)}) AS grams
      FROM base
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gh FROM g
      WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ), cand AS (
      SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gh FROM g
      WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')
    ), ov AS (
      SELECT c.doc_id, c.n_grams, COUNT(*) AS n_overlap
      FROM cand c JOIN bench b ON c.gh = b.gh
      GROUP BY c.doc_id, c.n_grams
    )
    SELECT d.doc_id, CAST(len(d.grams) AS BIGINT) AS n_grams,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           CAST(floor(COALESCE(o.n_overlap, 0) * 1000000.0 / len(d.grams))
                AS BIGINT) AS contam_ppm
    FROM g d LEFT JOIN ov o ON o.doc_id = d.doc_id
    WHERE d.source NOT IN ('src0', 'src1', 'src2', 'src3')
    """,
    doc="Benchmark-contamination check (the pre-training hygiene pass): "
        "fraction of each candidate document's distinct 8-gram hashes that "
        "appear anywhere in the held-out benchmark sources. Scale: the "
        "benchmark gram set is small by construction (eval suites are MBs, "
        "not TBs) so it broadcasts; candidates stream through a broadcast "
        "hash join with no fact-side shuffle, then aggregate per doc",
)
def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    bench_src = ["src0", "src1", "src2", "src3"]
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", shingle_hashes(F.col("text"), 8).alias("grams")
    )
    bench = (
        docs.filter(F.col("source").isin(bench_src))
        .select(F.explode("grams").alias("gh"))
        .distinct()
    )
    cand = docs.filter(~F.col("source").isin(bench_src)).select(
        "doc_id", F.size("grams").cast("long").alias("n_grams"), "grams"
    )
    ov = (
        cand.select("doc_id", "n_grams", F.explode("grams").alias("gh"))
        .join(bench, "gh")  # gram set grows with corpus: AQE decides
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        cand.select("doc_id", "n_grams")
        .join(ov.select("doc_id", "n_overlap"), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.floor(
                F.coalesce(F.col("n_overlap"), F.lit(0))
                * 1000000.0
                / F.col("n_grams")
            )
            .cast("long")
            .alias("contam_ppm"),
        )
    )


@register(
    "domain_mix_weighted",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 48271) % 65537, doc_id
             ) AS rn,
             CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 15 ELSE 8 END
               AS quota
      FROM documents
    )
    WHERE rn <= quota
    """,
    doc="Weighted domain mixing: deterministic k-per-source sample with "
        "per-source quotas (the data-mixture stage of a pretraining "
        "pipeline). Lehmer-hash order makes the selection reproducible "
        "across engines and partitionings. Scale: one shuffle keyed by "
        "source; rank truncation is WindowGroupLimit (top-k per group "
        "pushdown), so no full per-source sort materializes",
)
def q_domain_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    quota = F.when(
        F.expr("CAST(substring(source, 4) AS INT)") < 10, F.lit(15)
    ).otherwise(F.lit(8))
    w = Window.partitionBy("source").orderBy(
        (F.col("doc_id") * 48271) % 65537, F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).alias("rn"),
            quota.alias("quota"),
        )
        # the redundant literal conjunct (rn <= max quota) matters: Spark's
        # InferWindowGroupLimit only fires on rank <= LITERAL, so a pure
        # column bound (rn <= quota) would sort every source group fully;
        # with the literal cap each partition prunes to 15 rows per source
        # before the window, and the column bound then trims to the quota
        .filter((F.col("rn") <= F.lit(15)) & (F.col("rn") <= F.col("quota")))
        .select("doc_id", "source")
    )


@register(
    "length_bucket_batches",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             CAST(floor(n_chars / 128) AS BIGINT) AS bucket,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x != '')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT bucket, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (
                    PARTITION BY bucket
                    ORDER BY (doc_id * 48271) % 65537, doc_id
                    ROWS UNBOUNDED PRECEDING) - 1) / 512) AS BIGINT)
               AS batch_id
      FROM toks
    )
    SELECT bucket, batch_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM packed
    GROUP BY bucket, batch_id
    """,
    doc="Length-bucketed batch packing: documents are bucketed by size class "
        "then greedily packed into ~512-token batches by running token sum "
        "(the sequence-packing stage that minimizes padding waste in "
        "training). Deterministic pack order via Lehmer hash. Scale: one "
        "shuffle keyed by bucket; the running sum is a single window pass; "
        "at 100 TB the bucket key would be (bucket, shard) to bound "
        "partition width",
)
def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.packing import n_tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.floor(F.col("n_chars") / 128).cast("long").alias("bucket"),
        n_tokens_col().alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy((F.col("doc_id") * 48271) % 65537, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.select(
        "bucket",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - 1) / 512)
        .cast("long")
        .alias("batch_id"),
    )
    return packed.groupBy("bucket", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


# ---------------------------------------------------------------------------
# Array / string / reshape widening
# ---------------------------------------------------------------------------

@register(
    "unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           ROUND(l_quantity, 2) AS value
    FROM lineitem WHERE l_orderkey < 4000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', ROUND(l_extendedprice, 2)
    FROM lineitem WHERE l_orderkey < 4000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', ROUND(l_discount, 2)
    FROM lineitem WHERE l_orderkey < 4000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', ROUND(l_tax, 2)
    FROM lineitem WHERE l_orderkey < 4000
    """,
    doc="Wide→long unpivot (P2 reshape, relational form): four measure "
        "columns melt to (metric, value) rows. Spark's unpivot is a single "
        "Expand node — one scan, 4x row fan-out, no shuffle; the oracle "
        "spells the same thing as UNION ALL",
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 4000)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return out.withColumn("value", F.round("value", 2))


@register(
    "vector_norm_stats",
    oracle="""
    WITH ed AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id,
           -- list_reduce is SAFE here (and only here + single-row folds):
           -- every list is the fixed embedding dim, so all rows iterate
           -- in lockstep and the v1.0.0 varying-length batch mis-fold
           -- (round-9 probe, SCALE.md) cannot arise
           ROUND(sqrt(list_reduce(list_transform(v, x -> x * x),
                                  (a, b) -> a + b)), 6) AS l2_norm,
           ROUND(list_reduce(v, (a, b) -> a + b) / len(v), 6) AS mean_val,
           ROUND(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 6)
             AS max_abs
    FROM ed
    """,
    doc="Per-vector norm/mean/max-abs via higher-order array functions — "
        "embedding hygiene stats (zero-norm and exploding-scale detection "
        "before ANN indexing). Cross-engine exactness: Spark aggregate() and "
        "DuckDB list_reduce() are both left folds, so the doubles are "
        "bit-identical before rounding. Pure projection: no shuffle, "
        "whole-stage codegen",
)
def q_vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ed = emb.select("vec_id", v.alias("v"))
    sumsq = F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    total = F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x)
    return ed.select(
        "vec_id",
        F.round(F.sqrt(sumsq), 6).alias("l2_norm"),
        F.round(total / F.size("v"), 6).alias("mean_val"),
        F.round(
            F.array_max(F.transform(F.col("v"), F.abs)), 6
        ).alias("max_abs"),
    )


@register(
    "levenshtein_prefix_pairs",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
                AS BIGINT) AS edit_dist
    FROM documents a JOIN documents b
      ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
    WHERE a.doc_id < 60
    """,
    doc="Edit-distance verification on candidate pairs (the fine-grained "
        "check after hash-based near-dup candidate generation): Levenshtein "
        "over 40-char prefixes for a bounded band of id pairs. Scale note: "
        "edit distance is O(len^2) per pair — only ever run it on candidate "
        "pairs (<< n^2), never as the generator; the banded id predicate "
        "stands in for an LSH candidate set here",
)
def q_levenshtein_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("prefix")
    )
    a = docs.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("id_a"), F.col("prefix").alias("pa")
    )
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("prefix").alias("pb"))
    # Non-equi band join needs a nested-loop plan; broadcast the BOUNDED side
    # (id < 60 → ≤60 rows) so the full doc table streams past it — the other
    # orientation would broadcast a scale-growing relation.
    pairs = b.join(
        F.broadcast(a),
        (F.col("id_b") > F.col("id_a")) & (F.col("id_b") <= F.col("id_a") + 3),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.levenshtein("pa", "pb").cast("long").alias("edit_dist"),
    )


@register(
    "salted_join_agg",
    oracle="""
    SELECT s.s_name, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_cents
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_name
    """,
    doc="Skew-mitigated salted join, result-equivalence form: lineitem ⋈ "
        "supplier through operators.relational.salted_join (right side "
        "exploded 8x, left side scattered across salt replicas) must equal "
        "the plain join the oracle runs. This is the manual fallback for "
        "skew that AQE can't split (broadcast-ineligible mid-size build "
        "side); the hash check pins that salting never changes results",
)
def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    j = salted_join(li, sup, "l_suppkey", salt=8)
    cents = cents_nonneg(F.col("l_extendedprice"))
    return j.groupBy("s_name").agg(
        F.count("*").alias("n_items"),
        F.sum(cents).alias("rev_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H widening, second batch (q8, q9, q11, q16, q20 adapted) + Spark-native
# session windows
# ---------------------------------------------------------------------------

@register(
    "tpch_q8_market_share",
    oracle="""
    WITH flat AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(floor(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents
                               ELSE 0 END) * 1000000.0 / SUM(cents))
                AS BIGINT) AS share_ppm
    FROM flat
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: one nation's market share of revenue shipped into a "
        "region, by year — conditional aggregation over a 6-way join. The "
        "share is a ratio of two exact integer-cents sums, so it is "
        "summation-order-free in both engines. Scale: region/nation/supplier "
        "dims broadcast; the customer-side region filter prunes before the "
        "fact joins; lineitem↔orders is the single big shuffle",
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n2 = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nkey"))
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    ).select("c_custkey")
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat.select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )),
        F.col("s_nationkey") == F.col("s_nkey"),
    ).select("s_suppkey", "supp_nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)  # supplier-scale: AQE decides
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("cents"),
            "supp_nation",
        )
    )
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("cents")).otherwise(0)
    )
    total_cents = F.sum("cents")
    return flat.groupBy("o_year").agg(
        nation_cents.alias("nation_cents"),
        total_cents.alias("total_cents"),
        F.floor(nation_cents * 1000000.0 / total_cents)
        .cast("long")
        .alias("share_ppm"),
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                                - 0.1 * p.p_retailprice * l.l_quantity) * 100)
                         AS BIGINT)) AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    doc="TPC-H Q9 shape: profit by supplier nation and year over a part-name "
        "substring filter (supply cost adapted to 10% of retail price — the "
        "corpus has no partsupp table). Scale: part (filtered) and "
        "supplier+nation broadcast, lineitem↔orders shuffles once; the LIKE "
        "filter prunes the fact rows via the broadcast join before any "
        "shuffle",
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_retailprice")
    nat = _t(spark, sf_dir, "nation")
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100,
        0,
    ).cast("long")
    flat = (
        li.join(part, li.l_partkey == part.p_partkey)  # part/supplier-scale: AQE decides
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount_cents.alias("cents"),
        )
    )
    return flat.groupBy("nation", "o_year").agg(
        F.sum("cents").alias("profit_cents")
    )


@register(
    "tpch_q11_revenue_share",
    oracle="""
    WITH by_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT l_partkey, rev_cents
    FROM by_part
    WHERE rev_cents > (SELECT SUM(rev_cents) FROM by_part) * 0.0008
    """,
    doc="TPC-H Q11 shape: parts whose revenue exceeds a fraction of the "
        "global total — aggregate reused as both group rows and the global "
        "scalar (one pass + a 1-row broadcast; never two fact scans). The "
        "threshold compares exact bigint cents against a deterministic "
        "double product",
)
def q_tpch_q11_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    by_part = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    total = by_part.agg(F.sum("rev_cents").alias("total"))
    return (
        by_part.crossJoin(F.broadcast(total))
        .filter(F.col("rev_cents") > F.col("total") * 0.0008)
        .select("l_partkey", "rev_cents")
    )


@register(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#4' AND p.p_size IN (1, 2, 3, 4, 5)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: distinct-supplier variety per (brand, type, size) "
        "with negated and IN-list dim predicates. Scale: part filters "
        "broadcast into the fact scan; COUNT(DISTINCT) expands to the "
        "two-phase distinct aggregate (partial dedup map-side before the "
        "shuffle)",
)
def q_tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)  # part-scale: AQE decides
    return (
        j.groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_heavy_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'red%'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 60
    )
    """,
    doc="TPC-H Q20 shape: suppliers that moved heavy volume of any one "
        "name-filtered part — nested aggregate → HAVING → semi join. Scale: "
        "the part filter broadcasts; the (supp, part) agg is map-side "
        "partial; the final semi join is tiny-on-one-side",
)
def q_tpch_q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.join(part.select("p_partkey"),  # part-scale: AQE decides
                li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
        .distinct()
    )
    return sup.join(
        heavy, sup.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")  # HAVING-filtered set grows with SF: AQE decides


@register(
    "events_session_window",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END
               AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, tus, value,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY tus, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
      FROM gaps
    )
    SELECT user_id, MIN(tus) AS sess_start_us, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM sess
    GROUP BY user_id, session_seq
    """,
    doc="Spark-native session windows: groupBy(session_window(ts, '30 min')) "
        "— the engine merges gap-connected events into variable-length "
        "sessions inside the aggregate itself (window.start = first event). "
        "The oracle replays the same semantics as the lag/cumsum island "
        "algorithm. This is the batch twin of the streaming "
        "applyInPandasWithState sessionizer (streaming/stateful.py); "
        "`sessionize` keeps the explicit-window form",
)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = cents_nonneg(F.col("value"))
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("sum_value_c"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("sess_start_us"),
            "n_events",
            "sum_value_c",
        )
    )


@register(
    "curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, lang, text,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ddr,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text) AS pr
      FROM documents
    ), kept AS (
      SELECT * FROM scored
      WHERE n_tok >= 20 AND ddr >= 0.4 AND pr <= 0.1
    ), deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ), split AS (
      SELECT source, lang,
             CASE WHEN {portable_hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 80
                  THEN 'train'
                  WHEN {portable_hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90
                  THEN 'val' ELSE 'test' END AS split,
             n_tok
      FROM deduped
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM split
    GROUP BY split, lang
    """,
    doc="The full curation pipeline as ONE Spark DAG — quality filter (scan-"
        "stage expressions) → exact dedup (min-id winner per content hash) → "
        "deterministic train/val/test split (md5) → per-(split, lang) corpus "
        "audit. This is the integration proof that the stages compose: one "
        "job, filters before the single content-hash shuffle, split "
        "assignment shuffle-free, audit agg tiny. At 100 TB this plan is "
        "scan → one exchange on md5(text) → map-side split → 12-row output",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .functions.text import portable_hash60, quality_signals

    docs = _t(spark, sf_dir, "documents")
    n_tok, ddr, pr = quality_signals(F.col("text"))
    kept = docs.select(
        "doc_id", "source", "lang", "text", n_tok.alias("n_tok"),
        ddr.alias("ddr"), pr.alias("pr"),
    ).filter(
        (F.col("n_tok") >= 20) & (F.col("ddr") >= 0.4) & (F.col("pr") <= 0.1)
    )
    w = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    b = portable_hash60(F.col("doc_id").cast("string")) % 100
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return (
        deduped.select("source", "lang", split.alias("split"), "n_tok")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def _sql_arr(row: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in row) + "]::DOUBLE[]"


def _banded_lsh_neardup_oracle(dim: int = 64, bands: int = 4,
                               rows_per_band: int = 8,
                               threshold: float = 0.35) -> str:
    """DuckDB replica of embedding_neardup_lsh: per-vector band values from
    the same literal planes, candidate pairs share ANY band, exact cosine
    verify at the same rounded threshold."""
    from .operators.similarity import plane_values

    planes = plane_values(dim, bands * rows_per_band)
    band_cols = []
    for b in range(bands):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(ve, "
            f"{_sql_arr(planes[b * rows_per_band + j])}) >= 0"
            f" THEN {1 << (rows_per_band - 1 - j)} ELSE 0 END)"
            for j in range(rows_per_band)
        )
        band_cols.append(f"({terms}) AS band{b}")
    band_select = ", ".join(band_cols)
    any_band = " OR ".join(f"a.band{b} = b.band{b}" for b in range(bands))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    s AS (SELECT vec_id, ve, {band_select} FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.ve, b.ve), 6) AS cos_sim
    FROM s a JOIN s b ON a.vec_id < b.vec_id AND ({any_band})
    WHERE ROUND(list_cosine_similarity(a.ve, b.ve), 6) >= {threshold}
    """


def _semantic_clusters_oracle() -> str:
    """CC walk (recursive CTE) over the exact DuckDB replica of the banded
    hyperplane-LSH pair set — the oracle replays the scale path's candidate
    generation bit-for-bit (inlined plane literals), then closes it
    transitively the same way the engine's min-label propagation does."""
    pairs = _banded_lsh_neardup_oracle(dim=64, bands=4, rows_per_band=8,
                                       threshold=0.35)
    return f"""
    WITH pairs AS ({pairs}),
    und AS (
      SELECT id_a AS ea, id_b AS eb FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT ea, eb FROM und
        UNION
        SELECT r.a, u.eb FROM r JOIN und u ON r.b = u.ea
      ) SELECT * FROM r
    )
    SELECT a AS vec_id, MIN(b) AS cluster_id,
           COUNT(DISTINCT b) AS cluster_size
    FROM reach GROUP BY a
    """


@register(
    "semantic_dedup_clusters",
    oracle=_semantic_clusters_oracle(),
    doc="Semantic dedup (SemDeDup-shaped, Abbas et al. 2023 arXiv:2303.09540"
        " adapted to pairwise form): embedding near-dup pairs from banded "
        "hyperplane LSH (bucket-keyed, never all-pairs) closed transitively "
        "by iterative min-label connected components → (vec, cluster, size)."
        " Cross-family composition proof: the ANN candidate path feeds the "
        "graph operator unchanged. Scale: the LSH shuffle is band-keyed, CC "
        "rounds are O(diameter) label joins with localCheckpoint lineage "
        "truncation; keep-one-per-cluster is a trivial filter on the output",
)
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import connected_components
    from .operators.similarity import embedding_neardup_lsh

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_lsh(
        emb, "embedding", "vec_id", dim=64, threshold=0.35,
        bands=4, rows_per_band=8,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )


@register(
    "events_resample_ffill",
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
               AS bar_value_c
      FROM events WHERE user_id < 40
      GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT g.user_id, epoch_us(g.bar) AS bar_us,
           COALESCE(h.bar_value_c,
             last_value(h.bar_value_c IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bar
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS value_c,
           CASE WHEN h.bar_value_c IS NULL THEN 1 ELSE 0 END AS filled
    FROM grid g LEFT JOIN hourly h
      ON h.user_id = g.user_id AND h.bar = g.bar
    """,
    doc="Time-series resample + forward fill (the gap-filling operator every "
        "feature pipeline needs): per-user hourly bars over a generated "
        "dense time grid (sequence/explode), missing bars forward-filled "
        "with last_value IGNORE NULLS. Scale: the grid is generated, not "
        "shuffled (sequence per user row); one agg shuffle keyed (user, "
        "bar); the fill is a single ordered window pass per user. Bar "
        "values are exact integer cents (order-free sums)",
)
def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .operators.relational import hourly_grid

    j = hourly_grid(
        _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("bar")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        F.unix_micros(F.col("bar")).alias("bar_us"),
        F.coalesce(
            F.col("v"), F.last("v", ignorenulls=True).over(w),
        ).alias("value_c"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("filled"),
    )


@register(
    "stats_corr_exact",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * 1.0)
                 / sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                 6) AS corr_qty_price
    FROM s
    """,
    doc="Correlation from exact integer moment sums: quantity is integral "
        "and price converts to cents, so Sx/Sy/Sxx/Sxy are exact bigint "
        "sums (order-free) and the Pearson formula is a deterministic "
        "function of them — unlike built-in CORR, whose one-pass float "
        "moments accumulate in engine-specific order. Syy exceeds int64 "
        "(cents² × 60k rows) and goes through double on both sides "
        "identically. Single map-side-combinable aggregate, no shuffle "
        "beyond the groupBy",
)
def q_stats_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    cents = cents_nonneg(F.col("l_extendedprice"))
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(cents).alias("sy"),
        F.sum(qty * qty).alias("sxx"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("syy"),
        F.sum(qty * cents).alias("sxy"),
    )
    # Widen every product to decimal(38,0) before combining: at sf>=1 the
    # int64 products n*sxy, sx*sy, n*sxx overflow (n~1e6+, sxy~1e15) and
    # ANSI mode throws. DuckDB's oracle goes through HUGEINT; decimal(38,0)
    # is the Spark equivalent. Only the final ratio drops to double.
    nd = F.col("n").cast("decimal(38,0)")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    sxxd = F.col("sxx").cast("decimal(38,0)")
    sxyd = F.col("sxy").cast("decimal(38,0)")
    num = (nd * sxyd - sxd * syd).cast("double")
    sxx_term = (nd * sxxd - sxd * sxd).cast("double")
    syy_term = (nd * F.col("syy") - syd * syd).cast("double")
    corr = num / F.sqrt(sxx_term) / F.sqrt(syy_term)
    return s.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price")
    )


@register(
    "doc_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             greatest(len(toks) - 2, 1) AS n_grams,
             len(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))))
               AS n_distinct,
             len(toks) AS n_toks
      FROM t
    ), tc AS (
      SELECT doc_id, MAX(cnt) AS top_cnt FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(g.n_grams AS BIGINT) AS n_grams,
           CAST(g.n_distinct AS BIGINT) AS n_distinct,
           CAST(floor((g.n_grams - g.n_distinct) * 1000000.0 / g.n_grams)
                AS BIGINT) AS rep_ppm,
           CAST(floor(tc.top_cnt * 1000000.0 / g.n_toks) AS BIGINT)
             AS top_token_ppm
    FROM g JOIN tc ON tc.doc_id = g.doc_id
    """,
    doc="Repetition quality signals (the Gopher/MassiveText repetition "
        "filter family, Rae et al. 2021 arXiv:2112.11446 §A1.1): fraction "
        "of duplicated 3-gram windows within each document, and the "
        "most-frequent-token concentration. Both are exact integer ratios "
        "(ppm) of counts, so the check is engine-invariant. Scale: the gram "
        "stats are scan-stage array expressions (zip_with shingles, no "
        "shuffle); the token mode is one map-side-combinable (doc, token) "
        "count + per-doc max",
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import shingles

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.greatest(F.size(toks) - 2, F.lit(1)).cast("long").alias("n_grams"),
        F.size(shingles(F.col("text"), 3)).cast("long").alias("n_distinct"),
        F.size(toks).cast("long").alias("n_toks"),
    )
    top = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.floor(
            (F.col("n_grams") - F.col("n_distinct"))
            * 1000000.0
            / F.col("n_grams")
        )
        .cast("long")
        .alias("rep_ppm"),
        F.floor(F.col("top_cnt") * 1000000.0 / F.col("n_toks"))
        .cast("long")
        .alias("top_token_ppm"),
    )


@register(
    "doc_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(ceil(greatest(len(toks) - 16, 1) / 48.0)
                             AS BIGINT)),
               i -> struct_pack(
                 chunk_id := i,
                 chunk := array_to_string(
                   list_slice(toks, i * 48 + 1,
                              least(i * 48 + 64, len(toks))), ' ')
               ))) AS ch
      FROM t
    )
    SELECT doc_id, CAST(ch.chunk_id AS BIGINT) AS chunk_id,
           CAST(len(string_split(ch.chunk, ' ')) AS BIGINT) AS n_tokens,
           md5(ch.chunk) AS chunk_md5
    FROM c
    """,
    doc="Sliding-window document chunking (width 64 tokens, stride 48 — the "
        "RAG/pretraining ingestion op): each doc yields ceil((n-overlap)/"
        "stride) overlapping chunks. Scan-stage only: tokens are split once "
        "into a projected column and the chunk windows are slices of that "
        "column reference (an index-lambda over a computed array would "
        "re-evaluate the split per chunk); no shuffle at any corpus size. "
        "Chunks surface as md5 so the hash check is content-exact without "
        "hauling chunk text through the comparison",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n = F.size("toks")
    n_chunks = F.ceil(F.greatest(n - 16, F.lit(1)) / 48.0).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(
                F.slice(
                    F.col("toks"),
                    i * 48 + 1,
                    F.least(i * 48 + 64, n) - i * 48,
                ),
                " ",
            ).alias("chunk"),
        ),
    )
    return (
        toked.select("doc_id", F.explode(chunks).alias("ch"))
        .select(
            "doc_id",
            F.col("ch.chunk_id").cast("long").alias("chunk_id"),
            F.size(F.split(F.col("ch.chunk"), " ")).cast("long").alias(
                "n_tokens"
            ),
            F.md5(F.col("ch.chunk").cast("binary")).alias("chunk_md5"),
        )
    )


@register(
    "unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    ), totals AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq
    ), scored AS (
      SELECT t.doc_id,
             CAST(floor(1000000.0 * ln(CAST(tt.total AS DOUBLE) / f.cnt))
                  AS BIGINT) AS surp_e6
      FROM tok t JOIN freq f ON f.tok = t.tok CROSS JOIN totals tt
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(surp_e6) AS BIGINT) AS total_surprisal_e6,
           CAST(floor(SUM(surp_e6) * 1.0 / COUNT(*)) AS BIGINT)
             AS mean_surprisal_e6
    FROM scored GROUP BY doc_id
    """,
    doc="Unigram-LM surprisal quality score (the CCNet/KenLM perplexity "
        "filter, Wenzek et al. 2020 arXiv:1911.00359, reduced to its "
        "unigram form): corpus token frequencies become a broadcast LM "
        "table; each document scores mean -log p(token). Cross-engine "
        "exactness: per-token surprisal is floored to integer micro-nats "
        "(identical doubles floor identically) and the per-doc total is an "
        "exact bigint sum — order-free where a float log-prob sum is not. "
        "Scale: pass 1 is a map-side-combinable token count; the LM table "
        "(vocab-sized) broadcasts into pass 2, so the token stream never "
        "shuffles for the lookup — only the tiny per-doc aggregate does",
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("long").alias("total"))
    surp = (
        tok.join(freq, "tok")  # vocabulary grows with corpus: AQE decides
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.floor(
                1000000.0
                * F.log(F.col("total").cast("double") / F.col("cnt"))
            )
            .cast("long")
            .alias("surp_e6"),
        )
    )
    return surp.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("surp_e6").alias("total_surprisal_e6"),
        F.floor(F.sum("surp_e6") * 1.0 / F.count("*"))
        .cast("long")
        .alias("mean_surprisal_e6"),
    )


@register(
    "token_rle_udtf",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS idx
      FROM documents WHERE doc_id < 50
    ), marked AS (
      SELECT doc_id, tok, idx,
             CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY idx)
                       IS DISTINCT FROM tok THEN 1 ELSE 0 END AS new_run
      FROM t
    ), runs AS (
      SELECT doc_id, tok, idx,
             CAST(SUM(new_run) OVER (PARTITION BY doc_id ORDER BY idx
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS rid
      FROM marked
    )
    SELECT doc_id, CAST(rid - 1 AS INT) AS pos,
           CAST(COUNT(*) AS INT) AS run_len, MIN(tok) AS tok
    FROM runs GROUP BY doc_id, rid
    """,
    doc="Python UDTF (Spark 4 user-defined TABLE function) demonstration: "
        "token run-length encoding via LATERAL correlation — one input doc "
        "row yields a variable number of (pos, run_len, tok) rows from "
        "imperative generator logic. Completes the UDF surface matrix "
        "(scalar pandas, grouped-agg, grouped-map, mapInPandas, UDTF). The "
        "oracle replays RLE relationally (lag + run-id cumsum + group). "
        "Scale: the UDTF is row-local — no shuffle, parallel per partition; "
        "use arrow-optimized UDTFs for wide fan-outs",
)
def q_token_rle_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, run_len int, tok string")
    class RunLength:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            i = 0
            pos = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                yield (pos, j - i, toks[i])
                pos += 1
                i = j

    spark.udtf.register("__run_length", RunLength)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("__rle_docs")
    return spark.sql(
        """
        SELECT d.doc_id, r.pos, r.run_len, r.tok
        FROM __rle_docs d, LATERAL __run_length(d.text) r
        """
    )


@register(
    "prefix_filter_neardup",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.g, b.g)) * 1.0 /
                 len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id > a.doc_id
    WHERE ROUND(len(list_intersect(a.g, b.g)) * 1.0 /
                len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.5
    """,
    doc="Prefix-filtering set-similarity join (AllPairs/PPJoin, Bayardo et "
        "al. WWW'07): the EXACT sub-quadratic near-dup path — frequency-"
        "ordered prefixes guarantee recall 1, so this hash check against "
        "the quadratic all-pairs oracle is an equality, not a recall "
        "estimate. Completes the dedup candidate-generator set: MinHash/"
        "SimHash/hyperplane (probabilistic), winnowing (positional), prefix "
        "filtering (exact)",
)
def q_prefix_filter_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import prefix_filter_neardup

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_neardup(docs, "text", "doc_id", threshold=0.5)


def _codebook_rows(books) -> str:
    """Integer PQ codebooks as DuckDB ``VALUES`` rows (j, c, cent)."""
    return ",\n      ".join(
        f"({j}, {c}, [{', '.join(str(v) for v in cent)}]::BIGINT[])"
        for j, book in enumerate(books)
        for c, cent in enumerate(book)
    )


def _pq_fixed_oracle(dim: int = 64, m: int = 8, n_codes: int = 16,
                     k: int = 5, nq: int = 4) -> str:
    """DuckDB replica of the fixed-point ADC pipeline with the trained
    integer codebooks inlined as BIGINT literals (pq_fixed_reference_books
    is shared with the Spark query, so both sides hold identical books by
    construction). All post-quantize math is int64 in both engines — the
    hash comparison is exact, not ulp-lucky."""
    from .operators.similarity import (
        FIXED_POINT_SCALE,
        pq_fixed_reference_books,
    )

    books = pq_fixed_reference_books(dim=dim, m=m, k=n_codes)
    sub = dim // m
    rows = _codebook_rows(books)
    return f"""
    WITH cb(j, c, cent) AS (VALUES
      {rows}),
    v AS (SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {FIXED_POINT_SCALE}.0) AS BIGINT)) AS xq
          FROM embeddings),
    subv AS (SELECT vec_id, j, list_slice(xq, j*{sub}+1, j*{sub}+{sub}) AS sv
             FROM v, (SELECT unnest(range({m})) AS j)),
    dist AS (SELECT s.vec_id, s.j, cb.c,
                    CAST(list_sum(list_transform(range(1, {sub}+1),
                         i -> (s.sv[i]-cb.cent[i])*(s.sv[i]-cb.cent[i])))
                         AS BIGINT) AS d
             FROM subv s JOIN cb ON cb.j = s.j),
    code AS (SELECT vec_id, j, c FROM (
               SELECT vec_id, j, c,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY d, c) AS rn
               FROM dist) WHERE rn = 1),
    adc AS (SELECT qd.vec_id AS query_id, code.vec_id AS vec_id,
                   CAST(SUM(qd.d) AS BIGINT) AS adc_dist
            FROM code JOIN dist qd
              ON qd.j = code.j AND qd.c = code.c AND qd.vec_id < {nq}
            GROUP BY 1, 2)
    SELECT query_id, vec_id, adc_dist FROM (
      SELECT query_id, vec_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rn
      FROM adc) WHERE rn <= {k}
    """


@register(
    "pq_fixed_topk",
    oracle=_pq_fixed_oracle(),
    doc="Product-quantization ADC top-k, fixed-point form (Jégou et al. "
        "TPAMI'11 architecture; floor(x*2^20) int64 domain so encode + "
        "distance math is engine-exact and the DuckDB oracle — trained "
        "codebooks inlined as BIGINT literals — hash-matches). Scale shape "
        "identical to the float pq_topk: codebooks ride as literals, encode "
        "is one map-side Arrow pass producing 8-byte codes, the only "
        "shuffle is the per-query top-k heap over codes. The float path "
        "keeps the recall story (tests); this one carries the hard "
        "correctness evidence for the same operator",
)
def q_pq_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import pq_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk_fixed(
        emb, q, "embedding", "vec_id", "query_id", dim=64, k=5
    )


def _ivfpq_fixed_oracle(dim: int = 64, m: int = 8, n_codes: int = 16,
                        n_centroids: int = 8, nprobe: int = 3, k: int = 5,
                        nq: int = 4) -> str:
    """DuckDB replica of fixed-point IVFPQ: coarse centroids AND residual
    codebooks inlined as BIGINT literals; assignment, residual encode, probe
    selection and ADC all in exact int64, mirroring ivfpq_topk_fixed
    term-for-term."""
    from .operators.similarity import FIXED_POINT_SCALE, ivfpq_fixed_reference

    coarse, books = ivfpq_fixed_reference(
        dim=dim, m=m, n_codes=n_codes, n_centroids=n_centroids
    )
    sub = dim // m
    cc_rows = ",\n      ".join(
        f"({cid}, [{', '.join(str(v) for v in cent)}]::BIGINT[])"
        for cid, cent in enumerate(coarse)
    )
    cb_rows = _codebook_rows(books)
    return f"""
    WITH cc(cid, cent) AS (VALUES
      {cc_rows}),
    cb(j, c, cent) AS (VALUES
      {cb_rows}),
    v AS (SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {FIXED_POINT_SCALE}.0) AS BIGINT)) AS xq
          FROM embeddings),
    cd AS (SELECT v.vec_id, cc.cid,
                  CAST(list_sum(list_transform(range(1, {dim}+1),
                       i -> (v.xq[i]-cc.cent[i])*(v.xq[i]-cc.cent[i])))
                       AS BIGINT) AS d
           FROM v CROSS JOIN cc),
    assign AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d, cid) AS rn
                 FROM cd) WHERE rn = 1),
    res AS (SELECT v.vec_id, a.cid,
                   list_transform(range(1, {dim}+1),
                     i -> v.xq[i]-cc.cent[i]) AS rq
            FROM v JOIN assign a ON a.vec_id = v.vec_id
                   JOIN cc ON cc.cid = a.cid),
    subr AS (SELECT vec_id, cid, j,
                    list_slice(rq, j*{sub}+1, j*{sub}+{sub}) AS sv
             FROM res, (SELECT unnest(range({m})) AS j)),
    rdist AS (SELECT s.vec_id, s.cid, s.j, cb.c,
                     CAST(list_sum(list_transform(range(1, {sub}+1),
                          i -> (s.sv[i]-cb.cent[i])*(s.sv[i]-cb.cent[i])))
                          AS BIGINT) AS d
              FROM subr s JOIN cb ON cb.j = s.j),
    code AS (SELECT vec_id, cid, j, c FROM (
               SELECT vec_id, cid, j, c,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY d, c) AS rn
               FROM rdist) WHERE rn = 1),
    probe AS (SELECT vec_id AS query_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d, cid) AS rn
                FROM cd WHERE vec_id < {nq}) WHERE rn <= {nprobe}),
    qres AS (SELECT p.query_id, p.cid,
                    list_transform(range(1, {dim}+1),
                      i -> v.xq[i]-cc.cent[i]) AS rq
             FROM probe p JOIN v ON v.vec_id = p.query_id
                    JOIN cc ON cc.cid = p.cid),
    qsub AS (SELECT query_id, cid, j,
                    list_slice(rq, j*{sub}+1, j*{sub}+{sub}) AS sv
             FROM qres, (SELECT unnest(range({m})) AS j)),
    qlut AS (SELECT s.query_id, s.cid, s.j, cb.c,
                    CAST(list_sum(list_transform(range(1, {sub}+1),
                         i -> (s.sv[i]-cb.cent[i])*(s.sv[i]-cb.cent[i])))
                         AS BIGINT) AS d
             FROM qsub s JOIN cb ON cb.j = s.j),
    adc AS (SELECT q.query_id, code.vec_id,
                   CAST(SUM(q.d) AS BIGINT) AS adc_dist
            FROM code JOIN qlut q
              ON q.cid = code.cid AND q.j = code.j AND q.c = code.c
            GROUP BY 1, 2)
    SELECT query_id, vec_id, adc_dist FROM (
      SELECT query_id, vec_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rn
      FROM adc) WHERE rn <= {k}
    """


@register(
    "ivfpq_fixed_topk",
    headline=True,  # the ANN-family bench anchor since r7 (verdict ask)
    oracle=_ivfpq_fixed_oracle(),
    doc="IVFPQ ANN top-k, fixed-point form (FAISS IVFPQ architecture: "
        "coarse inverted lists prune the scan, residual PQ compresses it; "
        "all math in the floor(x*2^20) int64 domain so coarse assignment, "
        "probe selection, residual codes and ADC sums are engine-exact — "
        "the DuckDB oracle inlines both the coarse centroids and the "
        "residual codebooks as BIGINT literals and hash-matches). Scale "
        "shape: one map-side pass builds the (id, centroid_id, 8-byte "
        "code) inverted index, queries ADC-scan nprobe/n_centroids of it; "
        "raw vectors never shuffle",
)
def q_ivfpq_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivfpq_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_fixed(
        emb, q, "embedding", "vec_id", "query_id", dim=64, k=5
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    WITH flat AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
               AS n_late_supp
      FROM flat GROUP BY l_orderkey
    ), offenders AS (
      SELECT DISTINCT f.l_orderkey, f.l_suppkey
      FROM flat f JOIN per_order p ON p.l_orderkey = f.l_orderkey
      WHERE f.late = 1 AND p.n_supp >= 2 AND p.n_late_supp = 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM offenders o JOIN supplier s ON s.s_suppkey = o.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the classic "
        "EXISTS(other supplier) AND NOT EXISTS(other late supplier) "
        "correlated pair, decorrelated into ONE per-order aggregate "
        "(n_supp, n_late_supp) joined back — two shuffles total instead of "
        "two lineitem self-joins. 'Late' adapts receipt>commit to this "
        "schema as shipdate > orderdate + 60 days. Scale: the per-order agg "
        "is map-side combinable; the join back is orderkey-keyed (AQE "
        "handles the skewed big orders); supplier name join is dim-sized",
)
def q_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    sup = _t(spark, sf_dir, "supplier")
    flat = li.join(orders, li.l_orderkey == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .cast("int").alias("late"),
    )
    per_order = flat.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    offenders = (
        flat.filter(F.col("late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        offenders.join(sup, offenders.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS o_total_c
      FROM orders
    ), upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             (o_total_c * 11) // 10 AS o_total_c,
             (o_orderkey % 5 = 0) AS is_del
      FROM base WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, 'N', o_total_c, FALSE
      FROM base WHERE o_orderkey % 97 = 0
    ), merged AS (
      SELECT COALESCE(t.o_orderkey, u.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey
                  ELSE t.o_custkey END AS o_custkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_total_c
                  ELSE t.o_total_c END AS o_total_c
      FROM base t FULL OUTER JOIN upd u ON u.o_orderkey = t.o_orderkey
      WHERE NOT COALESCE(u.is_del, FALSE)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_total_c) AS BIGINT) AS total_c,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM merged GROUP BY o_orderstatus
    """,
    doc="MERGE INTO (CDC apply) semantics: update matched rows, insert new "
        "keys, delete flagged rows — one full-outer join + per-column "
        "conditional projection (operators/relational.merge_upsert), the "
        "plan Delta/Iceberg MERGE compiles to for an equi-ON. The update "
        "set is derived deterministically from orders (price bump on "
        "keys%7, deletes on keys%5, inserts at key+1e8). Scale: one "
        "shuffle per side on the merge key, zero when both sides are "
        "bucketed on it; verified by aggregate because the merged relation "
        "is fact-sized",
)
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import merge_upsert

    # whole merge in the exact integer-cents domain: the 10% price bump is
    # (c*11) div 10 — round(price*1.1, 2) sits on .005 boundaries that
    # Spark (BigDecimal) and DuckDB (numeric) round apart
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents_nonneg(F.col("o_totalprice"))
        .alias("o_total_c"),
    )
    bump = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.expr("(o_total_c * 11) div 10").alias("o_total_c"),
        (F.col("o_orderkey") % 5 == 0).alias("is_del"),
    )
    ins = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_total_c",
        F.lit(False).alias("is_del"),
    )
    merged = merge_upsert(
        orders, bump.unionByName(ins), ["o_orderkey"], delete_col="is_del"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("o_total_c").alias("total_c"),
        F.count_distinct("o_custkey").alias("n_cust"),
    )


def _pagerank_oracle(iters: int = 3, k: int = 20) -> str:
    """Chained-CTE unroll of the fixed-point PageRank iterations (DuckDB
    disallows aggregates inside a recursive CTE term; with a fixed iteration
    count the unroll is the cleaner exact replica anyway). Node ids embed
    the bipartite role: customer -> 2*custkey, supplier -> 2*suppkey+1."""
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(f"""
    r{i} AS (
      SELECT u.d AS node,
             150000 + (85 * SUM({prev}.rank // deg.deg)) // 100 AS rank
      FROM und u
      JOIN {prev} ON {prev}.node = u.s
      JOIN deg ON deg.s = u.s
      GROUP BY u.d
    )""")
        prev = f"r{i}"
    chain = "," + ",".join(steps)
    return f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey * 2 AS s, l.l_suppkey * 2 + 1 AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), und AS (
      SELECT s, d FROM e UNION SELECT d, s FROM e
    ), deg AS (
      SELECT s, COUNT(*) AS deg FROM und GROUP BY s
    ), r0 AS (
      SELECT DISTINCT s AS node, CAST(1000000 AS BIGINT) AS rank FROM und
    ){chain}
    SELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}
    ORDER BY rank DESC, node LIMIT {k}
    """


@register(
    "pagerank_fixed_topk",
    oracle=_pagerank_oracle(),
    headline=True,  # the iterative-graph bench anchor since r8 (verdict
    # ask: iterative join+agg shuffles are where a planner regression
    # would hide; dedup and ANN already have their anchors)
    doc="Fixed-point PageRank (3 iterations, damping 85/100, ppm scale) "
        "over the undirected customer-supplier trade graph derived from "
        "lineitem x orders; top-20 nodes. Iterative DataFrame algorithm "
        "beyond connected components: all arithmetic is int64 floor "
        "div/sums so the DuckDB chained-CTE replica hash-matches exactly. "
        "Scale: O(iters) src-join + dst-agg shuffles, driver-free",
)
def q_pagerank_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank_fixed

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        # no .distinct() here: pagerank_fixed dedups its undirected edge
        # list in the same single exchange that establishes the node
        # clustering — a caller-side distinct was one extra full-size
        # shuffle of the edge list for nothing (r13 optimization pass)
    )
    ranks = pagerank_fixed(edges, iters=3)
    return ranks.orderBy(F.desc("rank"), "node").limit(20)


@register(
    "intersect_except_customers",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="Set-operation surface: INTERSECT and EXCEPT (set semantics) — "
        "customers active in both 1997 and 1998 minus anyone with an 'F' "
        "order. Catalyst compiles both to left-semi/left-anti hash joins "
        "over pre-deduped inputs, so the scale shape is the same keyed "
        "shuffle as any semi join (no sort-based set diff)",
)
def q_intersect_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def year(y):
        return orders.filter(in_year("o_orderdate", y)).select("o_custkey")

    flagged = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract == EXCEPT DISTINCT (set semantics, matching the SQL oracle)
    return year(1997).intersect(year(1998)).subtract(flagged)


@register(
    "interval_join_attribution_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(round(p.value * 100) AS BIGINT) AS purchase_value_c
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_ns(c.ts) >= epoch_ns(p.ts) - 1800000000000
     AND epoch_ns(c.ts) <= epoch_ns(p.ts)
    """,
    doc="LEFT OUTER interval attribution: every purchase emits, unmatched "
        "ones with null click_id — the batch twin of the streaming "
        "left-outer stream-stream join (streaming/joins.py:"
        "purchase_click_attribution_outer), where the null can only emit "
        "after the click-side watermark clears the join window. The click "
        "filter must live in the subquery, not WHERE (a WHERE on the right "
        "side of a LEFT JOIN silently turns it inner). Value emitted as "
        "exact cents (nullable rows make float hashing fragile)",
)
def q_interval_join_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming.joins import purchase_click_attribution_outer

    ev = _t(spark, sf_dir, "events")
    out = purchase_click_attribution_outer(ev)
    return out.select(
        "purchase_id", "click_id", "user_id",
        cents_nonneg(F.col("purchase_value"))
        .alias("purchase_value_c"),
    )


@register(
    "null_aware_not_in",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
         (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        AS n_not_in_clean,
      (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
         (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END
          FROM orders WHERE o_orderstatus = 'F'))
        AS n_not_in_with_nulls
    """,
    doc="Null-aware anti join: NOT IN against a null-free list is a plain "
        "anti join, but ONE null in the list makes every NOT IN predicate "
        "UNKNOWN and the count drops to zero — the classic three-valued-"
        "logic footgun. Spark plans the null-containing branch as a "
        "null-aware BroadcastNestedLoopJoin; both branches in one row pin "
        "that the engine implements the standard semantics, not the naive "
        "anti join. Runs through the SQL entry surface (sql.register_tables "
        "+ spark.sql), exercising that path in the driver window too",
)
def q_null_aware_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sql import sql

    return sql(spark, sf_dir, """
        SELECT
          (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
             (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
            AS n_not_in_clean,
          (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
             (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                          ELSE o_custkey END
              FROM orders WHERE o_orderstatus = 'F'))
            AS n_not_in_with_nulls
    """)


@register(
    "ewma_user_value",
    oracle="""
    WITH RECURSIVE seq AS (
      -- per-user recursive-CTE fold, NOT list_reduce: DuckDB v1.0.0's
      -- vectorized list_reduce mis-folds rows in multi-row batches with
      -- varying list lengths (round-9 probe, SCALE.md)
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM seq
      GROUP BY user_id
    ), walk AS (
      SELECT s.user_id, 1 AS it, s.c AS acc
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT w.user_id, w.it + 1, (9 * w.acc + s.c) // 10
      FROM walk w JOIN seq s ON s.user_id = w.user_id
                            AND s.rn = w.it + 1
    )
    SELECT w.user_id, c.n AS n_events, CAST(w.acc AS BIGINT) AS ewma_c
    FROM walk w JOIN cnt c ON c.user_id = w.user_id AND w.it = c.n
    """,
    doc="Exponentially weighted moving average per user — a sequential "
        "recurrence (ewma_t = (9*ewma_{t-1} + x_t) div 10, alpha = 1/10) "
        "that no single window function expresses. Engine form: ordered "
        "collect_list -> F.aggregate left fold; oracle: DuckDB list_reduce "
        "(also a left fold). All arithmetic integer-cents so the fold is "
        "engine-exact at every step. Scale: one shuffle on user_id; the "
        "fold is a scan-side array expression over each user's bounded "
        "event list (for unbounded streams the same recurrence runs in "
        "applyInPandasWithState — streaming/stateful.py running totals)",
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = cents_nonneg(F.col("value"))
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts_nanos").alias("o1"),
                F.col("event_id").alias("o2"),
                cents.alias("c"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "user_id",
            F.transform(F.col("ss"), lambda s: s["c"]).alias("cs"),
        )
    )
    # left fold with INTEGER division at every step ('div', not '/': float
    # division would round-trip through double and truncate, not floor)
    return seq.select(
        "user_id",
        F.size("cs").cast("long").alias("n_events"),
        # NB: [] indexing is 0-based in Spark SQL while slice() is 1-based —
        # init is cs[0] (first element), fold runs over slice from pos 2
        F.expr(
            "aggregate(slice(cs, 2, size(cs)), cs[0],"
            " (acc, x) -> (9L * acc + x) div 10L)"
        ).alias("ewma_c"),
    )


@register(
    "hll_mergeable_daily_users",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
           TRUE AS within
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Mergeable distinct-count sketches (Apache DataSketches HLL via "
        "hll_sketch_agg / hll_union_agg / hll_sketch_estimate): per-day "
        "per-type sketches re-unioned at WEEK granularity into per-week "
        "distinct-user estimates. THE 100 TB rollup pattern — daily "
        "partitions pre-aggregate a few-KB sketch each, and any date-range "
        "distinct count is a sketch union, never a fact re-scan; the "
        "weekly regroup exercises exactly that arbitrary-range re-union. "
        "Guarantee-bracket oracle (round-12 promotion of the last "
        "rows-only slots): the estimate is checked IN-ENGINE at 5% + slack "
        "tolerance (20*|est - exact| <= exact + 20, integer math; default "
        "lgK=12 gives ~1.6% rsd so 5% is >3 sigma and the sketch hash is "
        "data-deterministic), and only exact counts, day counts, and "
        "verdicts are emitted. Complements the ★ r6 twin (per-type "
        "all-time union); merge-consistency also pinned in "
        "tests/test_operators.py",
)
def q_hll_mergeable_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
    )
    weekly = daily.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd")
        .alias("week"),
    ).agg(
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
        .alias("est"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        weekly.join(exact, ["event_type", "week"])
        .select(
            "event_type", "week", "exact_users", "n_days",
            (F.abs(F.col("est") - F.col("exact_users")) * 20
             <= F.col("exact_users") + 20).alias("within"),
        )
        .orderBy("event_type", "week")
    )


@register(
    "dedup_keep_best",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents)
    ), edges AS (
      SELECT a.doc_id AS ea, b.doc_id AS eb
      FROM sh a JOIN sh b ON b.doc_id > a.doc_id
      WHERE len(list_intersect(a.g, b.g)) * 1.0 /
            len(list_distinct(list_concat(a.g, b.g))) >= 0.5
    ), und AS (
      SELECT ea, eb FROM edges UNION SELECT eb, ea FROM edges
    ), reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT ea, eb FROM und
        UNION
        SELECT r.a, u.eb FROM r JOIN und u ON r.b = u.ea
      ) SELECT * FROM r
    ), comp AS (
      SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    ), all_docs AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id) = 1) AS kept
    FROM all_docs
    """,
    doc="Quality-aware dedup: every document mapped to its near-dup cluster "
        "(transitive closure over >=0.5 Jaccard pairs; singletons are their "
        "own cluster) with the KEPT representative chosen by quality "
        "(longest n_chars, doc_id tiebreak) instead of min-id — what "
        "production curation actually ships, since min-id throws away the "
        "best copy. Composition: dedup_clusters (LSH + verify + CC) left-"
        "joined to the full corpus + one window argmax. Scale: adds one "
        "cluster-keyed window over the CC output — clusters are tiny, no "
        "skew risk",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, "text", "doc_id", threshold=0.5,
                              exact_pairs=False)
    all_docs = (
        docs.select("doc_id", "n_chars")
        .join(clusters.select("doc_id", "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id")
    wo = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    return all_docs.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.row_number().over(wo) == 1).alias("kept"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
    ), s1 AS (
      SELECT user_id, MIN(tus) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.tus) AS t2
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.tus > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.tus) AS t3
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.tus > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click_after_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase_after_click
    """,
    doc="Ordered funnel conversion (view -> click -> purchase, strictly "
        "increasing event times): users reaching each stage, where stage "
        "k's earliest qualifying event must follow the user's stage-k-1 "
        "time — the product-analytics funnel, not three independent "
        "counts. Exact integer epoch comparisons end-to-end. Scale: three "
        "user-keyed aggregates chained by joins (each a map-side-combinable "
        "min); at extreme funnels the same semantics collapse into one "
        "sorted per-user array fold like ewma_user_value",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer div, not '/': float division of 1.7e18-ns longs exceeds the
    # 53-bit double mantissa and lands some epochs 1us off
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("ts_nanos div 1000").alias("tus"),
    )
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("tus").alias("t1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("tus") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("tus") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t3"))
    )
    # three 1-row aggregates crossed — no driver-side action inside the
    # operator; the whole funnel stays one lazy plan
    c1 = s1.agg(F.count("*").alias("n_view"))
    c2 = s2.agg(F.count("*").alias("n_click_after_view"))
    c3 = s3.agg(F.count("*").alias("n_purchase_after_click"))
    return c1.crossJoin(c2).crossJoin(c3)


@register(
    "cohort_retention",
    oracle="""
    WITH ev AS (
      SELECT user_id, (epoch_us(ts) // 604800000000) AS wk FROM events
    ), first_wk AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id
    )
    SELECT f.cohort_wk,
           CAST(e.wk - f.cohort_wk AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM ev e JOIN first_wk f ON f.user_id = e.user_id
    GROUP BY f.cohort_wk, week_offset
    """,
    doc="Cohort retention triangle: users bucketed by the week of their "
        "first event (cohort), counted distinct in each later week as "
        "(cohort_week, week_offset, n_users) — the standard retention "
        "matrix. Week ids are exact integer floor-divisions of epoch "
        "micros (604800000000 us/week), so bucketing is engine-exact. "
        "Scale: one user-keyed min aggregate (map-side combinable), one "
        "join back, one two-key distinct aggregate — same shuffle budget "
        "as any fact-to-its-own-aggregate join; AQE handles the big-cohort "
        "skew",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(ts_nanos div 1000) div 604800000000").alias("wk"),
    )
    first_wk = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first_wk, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY epoch_us(ts), event_id) AS types
      FROM events GROUP BY user_id
    ), tri AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(types) - 2, 0) + 1),
               i -> types[i] || '>' || types[i+1] || '>' || types[i+2]))
               AS path
      FROM seq
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY path
    ORDER BY n DESC, path LIMIT 20
    """,
    doc="Behavioral path mining: top-20 most common 3-step event-type "
        "sequences across users (adjacent triples of each user's "
        "time-ordered stream, 'view>click>purchase' style). Engine form: "
        "ordered collect_list, trigram expansion via slice-zip (array "
        "expressions, no UDF), explode + count. Counts are exact ints. "
        "Scale: one user-keyed shuffle for the ordered collect, then the "
        "trigram count is map-side combinable; path cardinality is "
        "|event_types|^3, tiny",
)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts_nanos").alias("o1"),
                F.col("event_id").alias("o2"),
                F.col("event_type").alias("t"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(F.transform(F.col("ss"), lambda s: s["t"]).alias("types"))
    )
    tri = seq.select(
        F.explode(
            F.zip_with(
                F.zip_with(
                    F.slice(F.col("types"), 1,
                            F.greatest(F.size("types") - 2, F.lit(0))),
                    F.slice(F.col("types"), 2,
                            F.greatest(F.size("types") - 2, F.lit(0))),
                    lambda a, b: F.concat_ws(">", a, b),
                ),
                F.slice(F.col("types"), 3,
                        F.greatest(F.size("types") - 2, F.lit(0))),
                lambda ab, c: F.concat_ws(">", ab, c),
            )
        ).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@register(
    "data_quality_report",
    oracle="""
    SELECT 'fk:o_custkey' AS check,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'fk:l_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS BIGINT)
    UNION ALL
    SELECT 'unique:event_id',
           CAST((SELECT COALESCE(SUM(n - 1), 0) FROM
                 (SELECT COUNT(*) AS n FROM events GROUP BY event_id))
                AS BIGINT)
    UNION ALL
    SELECT 'in_range:l_discount',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount NOT BETWEEN 0 AND 0.1) AS BIGINT)
    UNION ALL
    SELECT 'not_null:text',
           CAST((SELECT COUNT(*) FROM documents WHERE text IS NULL)
                AS BIGINT)
    UNION ALL
    SELECT 'regex:o_orderpriority',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$'))
                AS BIGINT)
    """,
    doc="Declarative data-quality report (Deequ/Great-Expectations shape, "
        "operators/validate.py): referential integrity (left-anti counts), "
        "key uniqueness (group-count surplus), range, null, and regex "
        "constraints — each ONE aggregate or anti-join, unioned lazily "
        "into a (check, n_violations) relation. All counts exact ints. "
        "Scale: bounded by one scan per table + one shuffle per "
        "uniqueness/FK check; same-table aggregate checks fuse into a "
        "shared scan",
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.validate import (
        check_foreign_key,
        check_in_range,
        check_not_null,
        check_regex,
        check_unique,
        validation_report,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")
    documents = _t(spark, sf_dir, "documents")
    return validation_report([
        check_foreign_key(orders, "o_custkey", customer, "c_custkey"),
        check_foreign_key(lineitem, "l_orderkey", orders, "o_orderkey"),
        check_unique(events, ["event_id"]),
        check_in_range(lineitem, "l_discount", 0.0, 0.1),
        check_not_null(documents, "text"),
        check_regex(orders, "o_orderpriority", "^[1-5]-[A-Z]+$"),
    ])


@register(
    "triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), und AS (
      SELECT a, b FROM e UNION SELECT b, a FROM e
    ), fwd AS (
      SELECT a, b FROM und WHERE a < b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_open_triads,
           CAST((SELECT COUNT(*) FROM fwd e1
                 JOIN fwd e2 ON e2.a = e1.b
                 JOIN fwd e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
             AS n_triangles
    FROM (SELECT w1.a AS center
          FROM fwd w1 JOIN fwd w2 ON w2.a = w1.a AND w2.b > w1.b) t
    """,
    doc="Triangle + open-triad counting over the undirected trade graph "
        "(node-iterator with id-ordered edge orientation: each triangle "
        "counted exactly once as a<b<c). The customer-supplier graph is "
        "bipartite so n_triangles is provably 0 — the check pins that the "
        "engine does NOT hallucinate triangles (a join-condition bug "
        "typically inflates this) while n_open_triads (wedges) is large "
        "and nonzero. Scale: two self-joins on the oriented edge list — "
        "the standard distributed triangle pattern; orientation by id "
        "bounds each join's fan-out by the forward-degree",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(orders, li.l_orderkey == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    fwd = und.filter(F.col("a") < F.col("b")).distinct()
    w1 = fwd.select(F.col("a").alias("wa"), F.col("b").alias("wb1"))
    w2 = fwd.select(F.col("a").alias("wa"), F.col("b").alias("wb2"))
    wedges = w1.join(w2, "wa").filter(F.col("wb2") > F.col("wb1"))
    tri = (
        wedges.join(
            fwd.select(
                F.col("a").alias("wb1"), F.col("b").alias("wb2")
            ),
            ["wb1", "wb2"],
        )
    )
    return wedges.agg(F.count("*").alias("n_open_triads")).crossJoin(
        tri.agg(F.count("*").alias("n_triangles"))
    )


@register(
    "twap_user_value",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(round(value * 100) AS BIGINT) AS c,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
               AS nxt
      FROM events
    ), stepped AS (
      SELECT user_id, c, (nxt - tus) // 1000000 AS ws, tus
      FROM ev WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(c * ws) AS BIGINT) AS weighted_area,
           CAST((MAX(tus) - MIN(tus)) // 1000000 AS BIGINT) AS span_s,
           CAST((SUM(c * ws) * 1000000)
                // ((MAX(tus) - MIN(tus)) // 1000000) AS BIGINT)
             AS twap_ppm_c
    FROM stepped
    GROUP BY user_id
    HAVING (MAX(tus) - MIN(tus)) // 1000000 > 0
    """,
    doc="Time-weighted average value per user (TWAP): each reading is "
        "weighted by how long it was in force (until the next event), the "
        "step-function integral divided by the observed span. All math is "
        "exact int64 (cents x whole-second weights — micro weights overflow "
        "the ppm multiply; the final ratio is a ppm floor-div), "
        "so the result hash-matches despite being a ratio. Scale: one "
        "user-keyed window for LEAD + one aggregate on the same "
        "partitioning — Catalyst reuses the exchange",
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("ts_nanos div 1000").alias("tus"),
        cents_nonneg(F.col("value")).alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    # weights in whole SECONDS: cents(1e4-scale) x seconds x 1e6 ppm stays
    # well inside int64 (micros-weighted areas overflowed the ppm multiply)
    stepped = (
        ev.withColumn("nxt", F.lead("tus").over(w))
        .filter(F.col("nxt").isNotNull())
        .withColumn("ws", F.expr("(nxt - tus) div 1000000"))
    )
    return (
        stepped.groupBy("user_id")
        .agg(
            F.sum(F.col("c") * F.col("ws")).alias("weighted_area"),
            F.expr("(max(tus) - min(tus)) div 1000000").alias("span_s"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id", "weighted_area", "span_s",
            F.expr("(weighted_area * 1000000) div span_s")
            .alias("twap_ppm_c"),
        )
    )


@register(
    "rfm_segments",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mon_c
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT user_id,
             NTILE(4) OVER (ORDER BY last_us DESC, user_id) AS r,
             NTILE(4) OVER (ORDER BY freq DESC, user_id)    AS f,
             NTILE(4) OVER (ORDER BY mon_c DESC, user_id)   AS mo
      FROM m
    )
    SELECT r || '-' || f || '-' || mo AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM scored GROUP BY segment
    """,
    doc="RFM segmentation: per-user recency (last event time), frequency "
        "(event count), monetary (cents total) quartiled by NTILE with a "
        "total order (metric DESC, user_id) so quartile assignment is "
        "deterministic and cross-engine exact — quartile 1 = best. "
        "Segments are the 'r-f-m' code with user counts. Scale: one "
        "user-keyed aggregate, then three global NTILEs over the USER "
        "table (already aggregated, orders of magnitude smaller than the "
        "fact); at extreme user counts NTILE becomes approx-percentile "
        "bucketing to avoid the single-partition window",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cents = cents_nonneg(F.col("value"))
    m = ev.groupBy("user_id").agg(
        F.max(F.expr("ts_nanos div 1000")).alias("last_us"),
        F.count("*").alias("freq"),
        F.sum(cents).alias("mon_c"),
    )
    scored = m.select(
        "user_id",
        F.ntile(4).over(
            bounded_window(F.desc("last_us"), F.col("user_id"))
        ).alias("r"),
        F.ntile(4).over(
            bounded_window(F.desc("freq"), F.col("user_id"))
        ).alias("f"),
        F.ntile(4).over(
            bounded_window(F.desc("mon_c"), F.col("user_id"))
        ).alias("mo"),
    )
    return (
        scored.groupBy(
            F.concat_ws("-", "r", "f", "mo").alias("segment")
        )
        .agg(
            F.count("*").alias("n_users"),
            F.min("user_id").alias("sample_user"),
        )
    )


@register(
    "keyword_and_search",
    oracle="""
    WITH postings AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), hits AS (
      SELECT doc_id, COUNT(*) AS n_matched
      FROM postings WHERE term IN ('the', 'and', 'of')
      GROUP BY doc_id
    )
    SELECT h.doc_id, d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    WHERE h.n_matched = 3
    ORDER BY h.doc_id
    """,
    doc="Conjunctive keyword search through an inverted-index shape: "
        "distinct (doc, term) postings filtered to the query terms, "
        "grouped per doc, kept when the match count equals the query "
        "length (AND semantics without N self-joins). Scale: the postings "
        "build is the classic inverted-index shuffle keyed by term — at "
        "serving scale the index is materialized once (bucketed by term) "
        "and each query reads only its terms' buckets; the count==k "
        "conjunction trick keeps one aggregate regardless of query length",
)
def q_keyword_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    terms = ["the", "and", "of"]
    postings = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("term"),
    )
    hits = (
        postings.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == len(terms))
    )
    return (
        hits.join(docs, "doc_id")
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ), agg AS (
      SELECT l_returnflag, price_c, SUM(qty) AS qty
      FROM w GROUP BY l_returnflag, price_c
    ), cum AS (
      SELECT l_returnflag, price_c,
             SUM(qty) OVER (PARTITION BY l_returnflag
                            ORDER BY price_c
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(qty) OVER (PARTITION BY l_returnflag) AS tot
      FROM agg
    )
    SELECT l_returnflag,
           CAST(MIN(price_c) AS BIGINT) AS wmedian_c
    FROM cum WHERE cw * 2 >= tot
    GROUP BY l_returnflag
    """,
    doc="Exact weighted median (lower): per group, the smallest price whose "
        "cumulative quantity weight reaches half the total — robust "
        "statistics no built-in covers (percentile_approx is unweighted "
        "and approximate). Integer cents + integer weights means the "
        "crossing test (2*cum >= total, no division) is engine-exact. "
        "Scale: pre-aggregate per (group, value) collapses the window "
        "input to distinct values; one partition-ordered cumulative-sum "
        "window + one min — the same shuffle count as any grouped window",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents_nonneg(F.col("l_extendedprice"))
        .alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    # two-level cumsum decomposition (see queries_r4.mad_robust_scale):
    # price cents are near-unique, so a per-group cumulative window would
    # run at |groups| parallelism over fact-scale distinct values
    agg = li.groupBy("l_returnflag", "price_c").agg(
        F.sum("qty").alias("qty")
    ).withColumn("bkt", F.expr("price_c div 1000"))
    bstat = agg.groupBy("l_returnflag", "bkt").agg(
        F.sum("qty").alias("bq")
    )
    wb = Window.partitionBy("l_returnflag").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bcum = bstat.select(
        "l_returnflag", "bkt",
        F.coalesce(F.sum("bq").over(wb), F.lit(0)).alias("before"),
        F.sum("bq").over(Window.partitionBy("l_returnflag")).alias("tot"),
    )
    wi = Window.partitionBy("l_returnflag", "bkt").orderBy(
        "price_c"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = agg.join(F.broadcast(bcum), ["l_returnflag", "bkt"]).select(
        "l_returnflag", "price_c",
        (F.col("before") + F.sum("qty").over(wi)).alias("cw"),
        "tot",
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("price_c").alias("wmedian_c"))
    )


@register(
    "table_content_digest",
    oracle=f"""
    SELECT 'orders' AS tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST({portable_hash60_sql(
               "o_orderkey || '|' || o_custkey || '|' || o_orderstatus"
               " || '|' || CAST(round(o_totalprice * 100) AS BIGINT)"
           )} AS HUGEINT)) % 9007199254740993 AS BIGINT) AS digest
    FROM orders
    UNION ALL
    SELECT 'customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST({portable_hash60_sql(
               "c_custkey || '|' || c_nationkey || '|' || c_mktsegment"
           )} AS HUGEINT)) % 9007199254740993 AS BIGINT)
    FROM customer
    """,
    doc="Order-invariant table content digest: per row a 60-bit md5 of the "
        "canonical column serialization, summed modulo a 53-bit prime — "
        "two tables' replicas compare equal iff contents match (mod "
        "collision), independent of row order, partitioning, or engine. "
        "The replication/backfill verification primitive: at 100 TB each "
        "side computes one scan-and-add, exchanges 16 bytes. Spark side "
        "sums in decimal(38,0) then takes the mod (int64 would overflow); "
        "DuckDB sums in HUGEINT — both exact",
)
def q_table_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    o_ser = F.concat_ws(
        "|",
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_orderstatus"),
        cents_nonneg(F.col("o_totalprice")),
    )
    c_ser = F.concat_ws(
        "|", F.col("c_custkey"), F.col("c_nationkey"), F.col("c_mktsegment")
    )
    prime = 9007199254740993

    def digest(df, ser, name):
        return df.agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(portable_hash60(ser).cast("decimal(38,0)"))
                % F.lit(prime).cast("decimal(38,0)")
            ).cast("long").alias("digest"),
        ).select(F.lit(name).alias("tbl"), "n_rows", "digest")

    return digest(orders, o_ser, "orders").unionByName(
        digest(customer, c_ser, "customer")
    )
