"""Plan-shape regression tests: the performance contract, enforced on the
optimizer output (SURVEY §4.2 'free vs custom' — verify we actually GET the
free things: pushdown, pruning, broadcast, no stray shuffles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gan_deeplearning4j_spark.plans.explain import (
    count_operator,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_columns,
)
from gan_deeplearning4j_spark.queries import REGISTRY


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = REGISTRY["tpch_q1_pricing"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf


def test_q1_column_pruning(spark, sf_dir):
    df = REGISTRY["tpch_q1_pricing"].fn(spark, sf_dir)
    cols = read_columns(df)[0]
    # 11-column table, only the 7 needed columns read
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert "l_quantity" in cols


def test_q3_all_dims_broadcast(spark, sf_dir):
    df = REGISTRY["tpch_q3_shipping"].fn(spark, sf_dir)
    assert count_operator(df, "BroadcastHashJoin") == 2
    assert count_operator(df, "SortMergeJoin") == 0
    # top-10 compiles to TakeOrderedAndProject, not a global Sort
    assert count_operator(df, "TakeOrderedAndProject") == 1


def test_q5_single_fact_scan_all_broadcast(spark, sf_dir):
    df = REGISTRY["tpch_q5_volume"].fn(spark, sf_dir)
    assert count_operator(df, "BroadcastHashJoin") == 5
    assert count_operator(df, "SortMergeJoin") == 0
    # exactly one data shuffle: the final groupBy
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    tree = plan_tree(df)
    data_exchanges = tree.count("- Exchange")
    assert data_exchanges <= 1, tree


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: two HashAggregates around one Exchange."""
    df = REGISTRY["tpch_q1_pricing"].fn(spark, sf_dir)
    assert count_operator(df, "HashAggregate") == 2


def test_minmax_stats_broadcast_not_window(spark, sf_dir):
    df = REGISTRY["minmax_normalize"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_topk_no_global_sort(spark, sf_dir):
    df = REGISTRY["topk_per_group"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    # rank pushdown: WindowGroupLimit prunes per partition before the full window
    assert "WindowGroupLimit" in plan, plan


def test_inference_is_shuffle_free(spark):
    """K10 distributed inference must be a single narrow stage, and an
    Arrow one: no per-row pandas objects."""
    import numpy as np

    from gan_deeplearning4j_spark.kernels import LayerSpec, apply_network, init_weights

    specs = [LayerSpec("d1", "dense", {"units": 4, "activation": "tanh"})]
    w = init_weights(specs, 8, 666)
    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(10)], "id: long, features: array<float>"
    )
    plan = formatted_plan(apply_network(df, specs, w))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_second_rotation_compiles_nothing(spark):
    """A driver that re-runs the same queries compiles each generated class
    once: the codegen cache (session.CODEGEN_CACHE_ENTRIES) holds a rotation
    that overflows Spark's default of 100 entries, which would evict and
    recompile on every pass."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def rotation() -> int:
        before = compiles.getCount()
        for k in range(7919, 7919 + 60):  # 60 distinct literals → 60 distinct sources
            spark.range(0, 8, 1, 1).select((F.col("id") * k + 7).alias("v")).collect()
        return compiles.getCount() - before

    first = rotation()
    assert first > 100, first
    assert rotation() == 0


@pytest.mark.parametrize("name", [
    "pq_encode", "pq_topk", "ivfpq_topk",
    "pq_topk_fixed", "ivfpq_topk_fixed", "lsh_topk_fixed", "ivf_topk_fixed",
])
def test_ann_scorers_cross_to_python_through_arrow(spark, sf_dir, name):
    """Every vector scorer's Python kernel is a mapInArrow pass on
    list_to_matrix: no per-row pandas objects."""
    from gan_deeplearning4j_spark.io import load_table
    from gan_deeplearning4j_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(F.col("vec_id").alias("query_id"), "embedding")
    books = [[[0.0] * 8] * 16] * 8
    if name == "pq_encode":
        df = similarity.pq_encode(emb, "embedding", "vec_id", 64, books)
    else:
        kw = {"books": books} if name == "pq_topk" else {}
        df = getattr(similarity, name)(emb, q, "embedding", "vec_id", "query_id", dim=64, **kw)
    plan = formatted_plan(df)
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan


def test_mllib_pipeline_composes_and_fuses(spark, sf_dir):
    """Pipeline stages must fuse into one Catalyst plan (no materialization
    boundaries between stages)."""
    from pyspark.ml import Pipeline

    from gan_deeplearning4j_spark.io import load_table
    from gan_deeplearning4j_spark.plans.transformers import (
        ClipTransformer,
        MinMaxNormalize,
        TextStats,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    pipe = Pipeline(
        stages=[
            MinMaxNormalize("l_extendedprice", "price_norm"),
            ClipTransformer("price_norm", "price_clipped", 0.1, 0.9),
        ]
    )
    out = pipe.fit(li).transform(li)
    pdf = out.limit(5).toPandas()
    assert "price_clipped" in pdf.columns
    assert (pdf["price_clipped"] >= 0.1).all()

    docs = load_table(spark, sf_dir, "documents")
    stats = TextStats().transform(docs)
    row = stats.select("n_tokens", "distinct_ratio", "lang_pred").first()
    assert row["n_tokens"] > 0


def test_semi_anti_joins_broadcast(spark, sf_dir):
    """EXISTS/NOT EXISTS compile to broadcast semi/anti hash joins (the
    returned-orderkeys build side is small after the 'R' filter)."""
    df = REGISTRY["semi_anti_join"].fn(spark, sf_dir)
    assert count_operator(df, "BroadcastHashJoin") == 2
    assert count_operator(df, "SortMergeJoin") == 0
    pf = pushed_filters(df)
    assert any("l_returnflag" in f for f in pf), pf


def test_scalar_subquery_two_phase_agg(spark, sf_dir):
    """The q17-shape avg-limit rewrite: partial aggregation on both the limit
    build and the final revenue agg (4 HashAggregates), no nested-loop."""
    df = REGISTRY["scalar_subquery_avg"].fn(spark, sf_dir)
    assert count_operator(df, "HashAggregate") == 4
    assert count_operator(df, "BroadcastNestedLoopJoin") == 0


def test_cube_partial_aggregation(spark, sf_dir):
    """CUBE expands grouping sets map-side then two-phase aggregates — one
    shuffle, not one per grouping set."""
    df = REGISTRY["cube_agg"].fn(spark, sf_dir)
    assert count_operator(df, "Expand") >= 1
    assert count_operator(df, "HashAggregate") == 2
    from gan_deeplearning4j_spark.plans.explain import plan_tree
    assert plan_tree(df).count("- Exchange") == 1


def test_minhash_signature_single_shingle_hash(spark, sf_dir):
    """The table-scale MinHash path hashes tokens a constant number of times
    per row (the zip_with slices re-reference the token-hash array), never
    once per permutation: xxhash64 count in the plan must stay far below
    num_hashes."""
    from gan_deeplearning4j_spark.operators.dedup import minhash_signatures_df
    from gan_deeplearning4j_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_signatures_df(docs, "text", "doc_id", num_hashes=16)
    tree = formatted_plan(df)
    assert tree.count("xxhash64") <= 8, tree[:2000]
    # and the per-doc aggregate is two-phase (map-side partial min)
    assert count_operator(df, "HashAggregate") == 2


def test_q6_all_predicates_pushed(spark, sf_dir):
    """q6 shape: every filter reaches the parquet scan; no join operators."""
    df = REGISTRY["tpch_q6_forecast"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    joined = " ".join(pf)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, pf
    assert count_operator(df, "Join") == 0


def test_q18_having_drives_broadcast(spark, sf_dir):
    """q18 shape: the HAVING-filtered aggregate becomes a broadcast build
    side — no sort-merge join anywhere."""
    df = REGISTRY["tpch_q18_large_orders"].fn(spark, sf_dir)
    assert count_operator(df, "BroadcastHashJoin") == 2
    assert count_operator(df, "SortMergeJoin") == 0


def test_sql_surface_plans_like_dataframe(spark, sf_dir):
    """spark.sql over registered views produces the same physical plan shape
    as the DataFrame form (views are plan fragments, not materializations)."""
    from gan_deeplearning4j_spark.sql import sql

    df = sql(spark, sf_dir, """
        SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS q
        FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag
    """)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    assert count_operator(df, "HashAggregate") == 2
    assert df.count() > 0


def test_q4_exists_is_semi_join_after_date_prune(spark, sf_dir):
    """q4 shape: EXISTS compiles to a left-semi broadcast join; the orders
    date range reaches the scan so the probe side is pruned first."""
    df = REGISTRY["tpch_q4_priority_exists"].fn(spark, sf_dir)
    tree = formatted_plan(df)
    assert "LeftSemi" in tree, tree
    assert count_operator(df, "SortMergeJoin") == 0
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf and "l_discount" in pf, pf


def test_q19_disjunction_factored_below_join(spark, sf_dir):
    """q19 shape: Catalyst extracts the per-table disjunctions from the
    OR-of-ANDs, so both scans carry pushed filters and the part side still
    broadcasts."""
    df = REGISTRY["tpch_q19_disjunctive"].fn(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf, pf       # lineitem-side OR pushed to fact scan
    assert "p_brand" in pf, pf          # part-side OR pushed to dim scan
    assert count_operator(df, "BroadcastHashJoin") == 1
    assert count_operator(df, "SortMergeJoin") == 0


def test_pivot_two_phase_prereduce(spark, sf_dir):
    """Explicit pivot values → no distinct-discovery job; the plan is a
    two-phase aggregate where the first phase pre-reduces on
    (groupBy key, pivot key), so the pivot shuffle moves only
    |groups|×|values| rows regardless of input size."""
    df = REGISTRY["pivot_status_flag"].fn(spark, sf_dir)
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    tree = plan_tree(df)
    assert tree.count("- Exchange") == 2, tree
    # partial+final around each of the two exchanges
    assert count_operator(df, "HashAggregate") == 4, tree


def test_q2_min_cost_reuses_unit_aggregate(spark, sf_dir):
    """q2 shape: the partkey filter prunes at the scan, supplier broadcasts,
    and the join-back of best-price stays on the aggregated (small) side."""
    df = REGISTRY["tpch_q2_min_cost_supplier"].fn(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_partkey" in pf, pf
    assert count_operator(df, "BroadcastHashJoin") >= 1


def test_heavy_hitters_exact_no_global_sort(spark, sf_dir):
    """Top-20 compiles to TakeOrderedAndProject over a partial+final agg —
    no full Sort of the grouped counts."""
    df = REGISTRY["heavy_hitters_exact"].fn(spark, sf_dir)
    assert count_operator(df, "TakeOrderedAndProject") == 1
    assert count_operator(df, "HashAggregate") == 2


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    """GROUPING SETS lowers to one Expand + one aggregate pair — the lattice
    does not re-scan the input per grouping set."""
    df = REGISTRY["grouping_sets_agg"].fn(spark, sf_dir)
    assert count_operator(df, "Expand") == 1
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    assert plan_tree(df).count("Scan parquet") == 1


def test_full_outer_joins_reduced_inputs(spark, sf_dir):
    """Both sides of the full outer join are pre-aggregated — the join input
    is |customers|-sized, and each aggregate is partial+final."""
    df = REGISTRY["full_outer_yearly_totals"].fn(spark, sf_dir)
    tree = formatted_plan(df)
    assert "FullOuter" in tree, tree
    assert count_operator(df, "HashAggregate") == 4

def test_tfidf_tf_branch_pruned(spark, sf_dir):
    """The doc_id output filter must reach the tf branch's parquet scan
    (pruned tokenize), while the df branch necessarily scans the corpus —
    exactly one scan carries the pushed doc_id filter."""
    df = REGISTRY["tfidf_top_terms"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("doc_id" in f and "LessThan" in f for f in pf), pf
    # WindowGroupLimit prunes per-partition before the full top-3 window
    assert "WindowGroupLimit" in formatted_plan(df)


def test_star_joins_correct_in_no_broadcast_regime(spark, sf_dir):
    """At 100 TB the dims outgrow every broadcast threshold and the same
    queries must degrade to shuffled joins with identical results. Simulate
    by disabling both static and AQE broadcast thresholds: the plan flips
    to SortMergeJoin/ShuffledHashJoin and the rows must not change."""
    names = ["tpch_q3_shipping", "tpch_q5_volume", "tpch_q18_large_orders",
             "tpch_q21_waiting_supplier"]
    baseline = {
        n: sorted(map(tuple, REGISTRY[n].fn(spark, sf_dir).collect()))
        for n in names
    }
    static_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_thr = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for n in names:
            df = REGISTRY[n].fn(spark, sf_dir)
            plan = formatted_plan(df)
            # the scale-growing sides must not be broadcast in this regime
            # (nation/region keep their explicit hints — that's the design)
            assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), (
                n, plan
            )
            got = sorted(map(tuple, df.collect()))
            assert got == baseline[n], n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", static_thr)
        if aqe_thr is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", aqe_thr
            )


def test_aqe_skew_join_split_fires(spark, sf_dir):
    """The engine's answer to hot keys in fact↔fact joins is AQE skew
    splitting (session.py enables it). Pin that it actually FIRES: build a
    join where one key owns ~90% of rows, lower the skew thresholds to
    test scale, and assert the executed plan marks the sort-merge join
    skew-handled. (At production thresholds the same mechanism engages at
    256 MB partitions — the config scales, the plan shape is identical.)"""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        n = 200_000
        skewed = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        other = spark.range(n // 4).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id")).alias("k"),
            F.col("id").alias("p2"),
        )
        out = skewed.join(other, "k").groupBy().count()
        out.collect()
        import re

        final = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"SortMergeJoin.*skew=true", final), final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark, sf_dir):
    """session.py turns on runtime bloom-filter join pruning; it is inert at
    test SF only because the application-side scan sits under the 10 GB
    production threshold. Pin the mechanism: with the size thresholds moved
    to test scale (creation side max RAISED, application side min LOWERED),
    a selective orders filter must inject might_contain/bloom_filter_agg
    onto the lineitem side of the join — the row-group pruning that saves
    the 100 TB fact scan."""
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        from gan_deeplearning4j_spark.io import load_table

        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_bounds_hot_key_partition(spark):
    """Planted hot key (one user holds 20% of events): a plain key-
    partitioned join lands all hot rows in ONE task, salted_join spreads
    them across `salt` tasks. Pin both halves: (a) results are identical,
    (b) the salted join's max partition is a small fraction of the plain
    join's — the task-time bound that keeps a 100 TB skewed join from
    stalling on one straggler.

    When the engine salts: AQE's skew-join split already handles skew in
    shuffled SORT-MERGE joins, so salting is reserved for the cases AQE
    can't re-plan — a broadcast-ineligible mid-size build side (this
    shape), or a skewed groupBy key (pre-aggregate under a salt then
    re-aggregate). See SCALE.md 'skew' row."""
    import pandas as pd

    from gan_deeplearning4j_spark.operators.relational import salted_join

    n_total, n_users = 100_000, 1_000
    # hot user 0 owns 20% of rows; the rest spread uniformly
    events = spark.range(n_total).select(
        F.when(F.col("id") < n_total // 5, F.lit(0))
        .otherwise(F.pmod(F.col("id") * 2654435761, F.lit(n_users)))
        .alias("user_id"),
        (F.col("id") % 97).alias("v"),
    )
    dims = spark.range(n_users).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("seg")
    )

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # isolate the salting effect from AQE's own skew handling
        "spark.sql.adaptive.enabled": "false",
        # enough reduce partitions that the 8 (hot_key, salt) combos
        # rarely co-hash into one — at 32 partitions the birthday
        # collisions re-merge several salt replicas and blur the bound
        "spark.sql.shuffle.partitions": "256",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        def max_partition_rows(df):
            return (
                df.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )

        plain = events.join(dims, "user_id")
        salted = salted_join(events, dims, "user_id", salt=8)

        # (a) identical results
        a = plain.groupBy("user_id", "seg").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        ).toPandas().sort_values("user_id").reset_index(drop=True)
        b = salted.groupBy("user_id", "seg").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        ).toPandas().sort_values("user_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

        # (b) the hot key's single straggler partition is split ~salt ways
        hot = max_partition_rows(plain)
        cool = max_partition_rows(salted)
        assert hot >= n_total // 5            # hot user in one task
        assert cool <= hot // 3, (hot, cool)  # salted: bounded tasks
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_macros_inline_and_match_engine_functions(spark, sf_dir):
    """SQL scalar UDFs are Catalyst macros: results equal the Column-API
    helpers and the plan contains no BatchEvalPython (no Python UDF)."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.functions.text import portable_hash60
    from gan_deeplearning4j_spark.sql import register_macros, register_tables

    register_tables(spark, sf_dir)
    names = register_macros(spark)
    assert "portable_hash60" in names

    df = spark.sql(
        "SELECT doc_id, portable_hash60(text) AS h, cents(1.005) AS c, "
        "ppm(1, 3) AS p, fixp20(0.5) AS fp, ws_token_count(text) AS n "
        "FROM documents ORDER BY doc_id LIMIT 50"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = df.toPandas()
    want = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            portable_hash60(F.col("text")).alias("h"),
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n"),
        )
        .orderBy("doc_id")
        .limit(50)
        .toPandas()
    )
    assert (got["h"].to_numpy() == want["h"].to_numpy()).all()
    assert (got["n"].to_numpy() == want["n"].to_numpy()).all()
    assert (got["c"] == 100).all() and (got["p"] == 333333).all()
    assert (got["fp"] == 524288).all()
    # irregular whitespace: leading/trailing/repeated spaces, tabs and
    # newlines all behave like the Column-API tokenizer (3 tokens here,
    # where a single-space split would report 7)
    irr = spark.sql(
        "SELECT ws_token_count('  a\\tb\\nc  ') AS n"
    ).collect()[0]["n"]
    assert irr == 3


def test_r5_queries_prune_and_push(spark, sf_dir):
    """Round-5 plan pins: column pruning reaches the scan, top-k avoids
    global sorts, filters are pushed."""
    from gan_deeplearning4j_spark.queries import REGISTRY

    def plan_of(name):
        df = REGISTRY[name].fn(spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # histogram sketch: the lineitem scan must read ONLY the price column
    p = plan_of("histogram_quantile_sketch")
    assert "ReadSchema: struct<l_extendedprice:double>" in p, p[:1500]

    # zipf: top-20 is TakeOrderedAndProject, never a global Sort of vocab
    p = plan_of("zipf_rank_freq_top20")
    assert "TakeOrderedAndProject" in p, p[:1500]

    # theil-sen / mann-kendall: the orders scan carries the pushed date
    # filter (the fact is filtered before aggregation)
    p = plan_of("theil_sen_slope_daily")
    assert "PushedFilters" in p and "o_orderdate" in p.split(
        "PushedFilters"
    )[1][:300], p[:2000]

    # gopher audit: only the tiny per-source agg exchange + final sort
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    tree = plan_tree(REGISTRY["gopher_rule_audit"].fn(spark, sf_dir))
    assert tree.count("- Exchange") <= 2, tree


def test_r5_late_wave_plans(spark, sf_dir):
    """Waves H-J plan pins: branch filters pushed, top-k without global
    sorts, lift ranking via TakeOrderedAndProject."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree
    from gan_deeplearning4j_spark.queries import REGISTRY

    def plan_of(name):
        df = REGISTRY[name].fn(spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # unionByName: each branch's status filter reaches its own scan
    p = plan_of("union_by_name_mixed")
    assert p.count("PushedFilters") >= 2 and "o_orderstatus" in p, p[:2000]

    # pmi lift: top-15 is TakeOrderedAndProject, not a global sort
    p = plan_of("pmi_top_pairs")
    assert "TakeOrderedAndProject" in p, p[:1500]

    # max_by arg-max: two-phase aggregate, no window, no join. NOTE:
    # max(struct(...)) plans as SortAggregate — struct comparators are
    # not hash-aggregable — still map-side-partial + final (the price
    # of a deterministic tie-break; plain max_by would hash-agg but is
    # tie-nondeterministic)
    t = plan_tree(REGISTRY["max_by_customer_order"].fn(spark, sf_dir))
    assert "Window" not in t and "Join" not in t, t
    assert t.count("SortAggregate") == 2, t


def test_r6_promotion_plans(spark, sf_dir):
    """Round-6 oracle-promotion plan pins."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree
    from gan_deeplearning4j_spark.queries import REGISTRY

    # fixed-point ANN twins: ONE Arrow pass over the corpus, per-partition
    # top-k heaps (WindowGroupLimit) BEFORE the single exchange — raw
    # vectors never shuffle, only (query_id, id, dist) candidate rows
    for name in ("ivf_fixed_topk", "lsh_fixed_topk"):
        t = plan_tree(REGISTRY[name].fn(spark, sf_dir))
        assert t.count("MapInArrow") == 1, (name, t)
        assert t.count("- Exchange") == 1, (name, t)
        assert "WindowGroupLimit" in t, (name, t)
        assert "Join" not in t, (name, t)

    # freqItems guarantee: exact side is a two-phase hash aggregate; the
    # 1-row candidate array joins in as a broadcast, never a shuffle join
    t = plan_tree(REGISTRY["heavy_hitters_guarantee"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in t or "BroadcastHashJoin" in t, t
    assert "SortMergeJoin" not in t, t

    # HLL++ bracket: exact AND sketch distinct counts come out of ONE scan
    # pass (a single Expand feeds both aggregates — no self-join)
    t = plan_tree(REGISTRY["approx_distinct_bracket"].fn(spark, sf_dir))
    assert t.count("Scan parquet") == 1, t
    assert t.count("Expand") == 1, t
    assert "Join" not in t, t


def test_r6_tail_slot_plans(spark, sf_dir):
    """Round-6 tail-slot plan pins (greedy packer + BOM explosion)."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree
    from gan_deeplearning4j_spark.queries import REGISTRY

    # greedy_pack_bins: exactly one shard-key exchange feeds the pandas
    # packer; the per-source summary re-uses that partitioning (no second
    # exchange), and nothing joins
    t = plan_tree(REGISTRY["greedy_pack_bins"].fn(spark, sf_dir))
    assert t.count("FlatMapGroupsInPandas") == 1, t
    assert t.count("- Exchange") == 1, t
    assert "Join" not in t, t

    # bom_explosion_rollup: per-level frontiers are localCheckpointed, so
    # the final plan is a union of materialized RDD scans + equi-joins —
    # no recomputation cascade of earlier levels, and no cartesian product
    t = plan_tree(REGISTRY["bom_explosion_rollup"].fn(spark, sf_dir))
    assert "Scan ExistingRDD" in t, t
    assert "CartesianProduct" not in t, t
    assert "BroadcastNestedLoopJoin" not in t, t


def test_bounded_window_partition_key_survives_optimizer(spark):
    """bounded_window partitions by spark_partition_id()*0 precisely
    because lit(0) gets constant-folded back to an EMPTY partition spec
    (and the WindowExec warning returns). Pin non-foldability: the
    optimized plan must still carry a partition expression."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.functions.windows import bounded_window

    df = (
        spark.range(100)
        .withColumn("v", F.col("id") % 7)
        .withColumn("rn", F.row_number().over(bounded_window("v", "id")))
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "spark_partition_id" in opt.lower(), opt
    # and the result is the plain global row_number
    assert df.agg(F.sum("rn")).collect()[0][0] == 5050


def test_bounded_window_probe_rejects_unbounded_relation(spark):
    """bounded_window funnels every row into ONE partition by design; the
    probe= guard must refuse a relation past max_rows (a fact-sized caller
    fails loudly instead of serializing 100 TB through one task) while
    passing a genuinely bounded one — and the probe itself stays
    O(max_rows) via limit(n+1).count()."""
    import pytest
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.functions.windows import bounded_window

    big = spark.range(5_000)
    with pytest.raises(ValueError, match="exceeds 1000 rows"):
        bounded_window("id", probe=big, max_rows=1_000)

    small = spark.range(50).withColumn("v", F.col("id") % 7)
    spec = bounded_window("v", "id", probe=small, max_rows=1_000)
    rn = small.withColumn("rn", F.row_number().over(spec))
    assert rn.agg(F.sum("rn")).collect()[0][0] == 50 * 51 // 2


def test_observation_metrics_ride_the_action(spark, sf_dir):
    """pyspark Observation API: pipeline audit counters (rows seen, exact
    cents, null count) collected DURING the action — no second scan. At
    100 TB a separate validation pass doubles the read; df.observe rides
    the existing job, which is why the engine's ETL guidance prefers it
    for row-count / checksum reconciliation."""
    from pyspark.sql import Observation

    from gan_deeplearning4j_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_audit")
    audited = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents"),
        F.count_if(F.col("o_custkey").isNull()).alias("null_cust"),
    )
    # one real aggregate job consumes the relation; metrics come for free
    got = audited.groupBy("o_orderstatus").count().collect()
    assert len(got) >= 1
    want = orders.agg(
        F.count(F.lit(1)),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
    ).collect()[0]
    assert obs.get["n_rows"] == want[0]
    assert obs.get["cents"] == want[1]
    assert obs.get["null_cust"] == 0
