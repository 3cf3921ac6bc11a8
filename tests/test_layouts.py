"""Physical-layout tests: bucketed tables join with zero shuffle; time
partitioning prunes directories."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gan_deeplearning4j_spark.io import load_table
from gan_deeplearning4j_spark.plans.explain import plan_tree
from gan_deeplearning4j_spark.sources.layouts import (
    write_bucketed,
    write_time_partitioned,
)


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    import uuid

    tag = uuid.uuid4().hex[:8]
    t_orders, t_lineitem = f"t_orders_{tag}", f"t_lineitem_{tag}"
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, t_orders, ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        t_lineitem, ["o_orderkey"], 8, ["o_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        # small test tables would auto-broadcast; force the sort-merge path
        # the bucketing is designed for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table(t_orders)
        b = spark.table(t_lineitem)
        joined = a.join(b, "o_orderkey").groupBy("o_orderstatus").count()
        tree = plan_tree(joined)
        assert "SortMergeJoin" in tree, tree
        # bucketed SMJ: sort allowed, but no Exchange below the join
        join_part = tree.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, tree
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")


def test_time_partition_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(ev, path, "ts", "day")
    back = spark.read.parquet(path)
    one_day = back.filter(F.col("__pt") == "2024-01-05")
    tree = plan_tree(one_day)
    got = one_day.count()
    full = back.count()
    assert 0 < got < full
    # the partition filter must appear as PartitionFilters, not a post-scan Filter
    from gan_deeplearning4j_spark.plans.explain import formatted_plan

    assert "PartitionFilters" in formatted_plan(one_day)


def test_zorder_preserves_content_and_clusters_both_dims(spark, sf_dir, tmp_path):
    """Z-order write: (a) content round-trips exactly; (b) BOTH cluster
    columns end up with per-file value spans far below the global span —
    the property that makes parquet min/max stats prune multi-dimensional
    predicates. A single-column sort gives (b) for one dim only."""
    from gan_deeplearning4j_spark.io import load_table
    from gan_deeplearning4j_spark.sources.layouts import write_zordered

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_nanos"
    )
    path = str(tmp_path / "events_z")
    write_zordered(ev, path, ["user_id", "ts_nanos"], bits=12, n_files=8)

    back = spark.read.parquet(path)
    assert sorted(r["event_id"] for r in back.collect()) == sorted(
        r["event_id"] for r in ev.collect()
    )

    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("uspan"),
            (F.max("ts_nanos") - F.min("ts_nanos")).alias("tspan"),
        )
        .collect()
    )
    g = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("uspan"),
        (F.max("ts_nanos") - F.min("ts_nanos")).alias("tspan"),
    ).collect()[0]
    assert len(spans) == 8
    mean_u = sum(r["uspan"] for r in spans) / len(spans)
    mean_t = sum(r["tspan"] for r in spans) / len(spans)
    # each file covers a sub-rectangle of the (user, time) plane: both spans
    # must shrink vs global (a 1-D sort leaves one of them ~= global)
    assert mean_u < 0.6 * g["uspan"], (mean_u, g["uspan"])
    assert mean_t < 0.6 * g["tspan"], (mean_t, g["tspan"])


def test_zorder_value_interleaves_bits(spark):
    from gan_deeplearning4j_spark.sources.layouts import zorder_value

    df = spark.createDataFrame([(3, 0), (0, 3), (3, 3)], "a int, b int")
    out = df.select(
        zorder_value([F.col("a"), F.col("b")], bits=2).alias("z")
    ).collect()
    # a occupies even bit positions, b odd: (3,0)->0b0101, (0,3)->0b1010
    assert [r["z"] for r in out] == [0b0101, 0b1010, 0b1111]


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Incremental backfill contract: with partitionOverwriteMode=dynamic,
    re-writing ONE day replaces exactly that day's directory and leaves
    every other partition untouched — the idempotent-reprocess semantics a
    100 TB nightly pipeline depends on (static mode would wipe the whole
    table root)."""
    from gan_deeplearning4j_spark.sources.layouts import (
        write_time_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    path = str(tmp_path / "ev_days")
    write_time_partitioned(ev, path, "ts", granularity="day")
    days = [r["__pt"] for r in
            spark.read.parquet(path).select("__pt").distinct().collect()]
    assert len(days) >= 2
    target_day = sorted(days)[0]

    before_other = (
        spark.read.parquet(path)
        .filter(F.col("__pt") != target_day)
        .count()
    )
    # backfill: rewrite the target day with values doubled
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        patch = (
            spark.read.parquet(path)
            .filter(F.col("__pt") == target_day)
            .withColumn("value", F.col("value") * 2)
        )
        patch.write.mode("overwrite").partitionBy("__pt").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)

    after = spark.read.parquet(path)
    assert after.filter(F.col("__pt") != target_day).count() == before_other
    # the patched day holds the doubled values (join back to source)
    src_day = ev.withColumn(
        "__pt", F.date_format("ts", "yyyy-MM-dd")
    ).filter(F.col("__pt") == target_day).select(
        "event_id", (F.col("value") * 2).alias("want")
    )
    got = after.filter(F.col("__pt") == target_day).select(
        "event_id", F.col("value").alias("got")
    )
    mism = src_day.join(got, "event_id").filter(
        F.abs(F.col("want") - F.col("got")) > 1e-9
    ).count()
    assert mism == 0
    assert got.count() == src_day.count()


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    """64 tiny files -> ceil(bytes/target) files, rows and content digest
    unchanged, coalesce path (no shuffle) by default."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.sources.layouts import (
        compact_parquet,
        parquet_file_stats,
    )

    src = str(tmp_path / "tiny")
    spark.range(10_000).select(
        "id", (F.col("id") % 97).alias("v")
    ).repartition(64).write.mode("overwrite").parquet(src)
    n_in, total = parquet_file_stats(spark, src)
    assert n_in == 64

    out = str(tmp_path / "compact")
    stats = compact_parquet(spark, src, out, target_bytes=total // 3)
    assert stats["in_files"] == 64
    assert stats["out_files"] <= 4
    assert stats["out_files"] >= 1

    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert b.count() == 10_000
    da = a.agg(F.expr("bit_xor(xxhash64(id, v))")).collect()[0][0]
    db = b.agg(F.expr("bit_xor(xxhash64(id, v))")).collect()[0][0]
    assert da == db


def test_greedy_bin_plan_matches_query_fold(spark, sf_dir):
    """The O(n) applyInPandas compaction planner must assign exactly the
    bins the Catalyst ``aggregate()`` fold assigns (the bounded-array
    form ★compaction_plan_audit registered before round 12 re-pointed it
    at greedy_bin_plan — the fold lives HERE now, as the independent
    implementation the equivalence is pinned against), the registered
    query must agree, and the grouped mode must plan each group
    independently."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.sources.layouts import greedy_bin_plan

    # replicate the query's bucket relation (o_custkey % 32 row counts)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    buckets = (orders.groupBy((F.col("o_custkey") % 32).alias("pt"))
               .agg(F.count("*").cast("long").alias("n_rows")))
    total = buckets.agg(F.sum("n_rows")).collect()[0][0]
    target = max(1, total // 10)
    plan = greedy_bin_plan(buckets, target=target)
    got = {(r["bin_id"], r["n_src_files"], r["bin_rows"])
           for r in plan.groupBy("bin_id")
           .agg(F.count("*").alias("n_src_files"),
                F.sum("n_rows").alias("bin_rows"))
           .collect()}

    # the independent implementation: the Catalyst aggregate() fold
    # (bounded arrays ONLY — array_append copies the accumulator per
    # element, O(n^2); exactly why the registered query swapped to the
    # linear path)
    folded = buckets.agg(
        F.array_sort(F.collect_list(F.struct("pt", "n_rows"))).alias("bs"),
    ).select(
        F.explode(F.expr(f"""
            aggregate(
              bs,
              named_struct(
                'bin', CAST(1 AS BIGINT), 'acc', CAST(0 AS BIGINT),
                'out', CAST(array() AS
                  array<struct<pt:bigint,n_rows:bigint,bin:bigint>>)),
              (st, b) -> IF(
                st.acc > 0 AND st.acc + b.n_rows > {int(target)},
                named_struct(
                  'bin', st.bin + CAST(1 AS BIGINT), 'acc', b.n_rows,
                  'out', array_append(st.out, named_struct(
                    'pt', b.pt, 'n_rows', b.n_rows,
                    'bin', st.bin + CAST(1 AS BIGINT)))),
                named_struct(
                  'bin', st.bin, 'acc', st.acc + b.n_rows,
                  'out', array_append(st.out, named_struct(
                    'pt', b.pt, 'n_rows', b.n_rows, 'bin', st.bin)))),
              st -> st.out)
        """)).alias("a")
    )
    want_fold = {(r["bin_id"], r["n_src_files"], r["bin_rows"])
                 for r in folded.groupBy(F.col("a.bin").alias("bin_id"))
                 .agg(F.count("*").alias("n_src_files"),
                      F.sum("a.n_rows").alias("bin_rows"))
                 .collect()}
    assert got == want_fold

    # the registered query (one physical file per bucket) agrees
    want_query = {(r["bin_id"], r["n_src_files"], r["bin_rows"])
                  for r in REGISTRY["compaction_plan_audit"].fn(spark, sf_dir)
                  .collect()}
    assert got == want_query

    # grouped mode: two disjoint groups plan independently (bin ids
    # restart per group)
    two = buckets.withColumn("grp", (F.col("pt") % 2).cast("long"))
    gp = greedy_bin_plan(two, target=target, group_cols=["grp"])
    per = {r["grp"]: r["mn"] for r in
           gp.groupBy("grp").agg(F.min("bin_id").alias("mn")).collect()}
    assert per == {0: 1, 1: 1}

    # grouped mode REQUIRES an explicit target (r11 advice): a silently
    # derived per-group target would diverge from the global default
    import pytest

    with pytest.raises(ValueError, match="target is required"):
        greedy_bin_plan(two, group_cols=["grp"])
