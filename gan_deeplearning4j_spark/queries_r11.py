"""Round-11 queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.money import cents_nonneg

from .queries_ext import _sql_arr
from .registry import _t, register


# ---------------------------------------------------------------------------
# Multi-probe LSH top-k: the recall knob past 1-bit flips (r9 verdict ask #5)
# ---------------------------------------------------------------------------

def _lsh_multiprobe_oracle(dim: int = 64, bits: int = 8, k: int = 5,
                           probes: int = 16) -> str:
    """DuckDB replica of lsh_bucketed_topk with probes > bits: home bucket
    + every 1-bit flip + the top (probes-bits) 2-bit perturbation sets by
    margin sum (tie-break: flipped signature) — the same probing sequence
    the Spark side's field-lexicographic array_sort over struct(m, s)
    produces. Plane doubles are inlined as literals; dots are sequential
    folds in both engines, so margins compare identically."""
    from .operators.similarity import plane_values

    if probes <= bits:
        raise ValueError(
            f"_lsh_multiprobe_oracle replays probes > bits only, got probes={probes}, bits={bits}"
        )
    planes = plane_values(dim, bits)
    dot_cols = ", ".join(
        f"list_dot_product(ve, {_sql_arr(planes[j])}) AS d{j}"
        for j in range(bits)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN d{j} >= 0 THEN {1 << (bits - 1 - j)} ELSE 0 END)"
        for j in range(bits)
    )
    one_bit = ", ".join(
        f"xor(sig, {1 << (bits - 1 - j)})" for j in range(bits)
    )
    pair_structs = ", ".join(
        f"{{'m': abs(d{i}) + abs(d{j}), "
        f"'s': xor(sig, {(1 << (bits - 1 - i)) | (1 << (bits - 1 - j))})}}"
        for i in range(bits) for j in range(i + 1, bits)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
               FROM embeddings),
    d AS (SELECT vec_id, ve, {dot_cols} FROM v),
    s AS (SELECT *, CAST({sig_expr} AS BIGINT) AS sig FROM d),
    q AS (SELECT * FROM s WHERE vec_id < 4),
    two AS (
      SELECT vec_id AS query_id, p.s AS psig,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY p.m, p.s) AS rn
      FROM (SELECT vec_id, unnest([{pair_structs}]) AS p FROM q)
    ),
    probes AS (
      SELECT vec_id AS query_id, unnest([sig, {one_bit}]) AS psig FROM q
      UNION ALL
      SELECT query_id, psig FROM two WHERE rn <= {probes - bits}
    ),
    scored AS (
      SELECT p.query_id, s.vec_id,
             list_cosine_similarity(s.ve, q.ve) AS cs
      FROM s
      JOIN probes p ON s.sig = p.psig
      JOIN q ON q.vec_id = p.query_id
    )
    SELECT query_id, vec_id, ROUND(cs, 6) AS cos_sim
    FROM (SELECT query_id, vec_id, cs,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


@register(
    "lsh_multiprobe_topk",
    oracle=_lsh_multiprobe_oracle(),
    doc="Multi-probe LSH ANN, 2-bit perturbation depth (Lv et al., "
        "VLDB'07): the recall knob for lsh_bucketed_topk past the 1-bit "
        "flips — probes=16 on bits=8 probes the home bucket, all 8 1-bit "
        "flips, and the 8 best 2-bit perturbation sets by margin sum. "
        "Oracled end-to-end: the DuckDB replica inlines the plane "
        "literals, replays the sequential-fold dots, and selects the SAME "
        "2-bit probe sequence via ORDER BY (margin_sum, flipped_sig) — "
        "matching Spark's field-lexicographic array_sort on struct(m, s). "
        "Scale: probing stays on the broadcast query side (25 bucket keys "
        "per query); the corpus shuffle is one sig-keyed exchange "
        "regardless of probe depth",
)
def q_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucketed_topk(
        emb, queries, "embedding", "vec_id", "query_id",
        dim=64, k=5, bits=8, probes=16,
    ).select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))



# ---------------------------------------------------------------------------
# Skew ladder demos: salted two-phase aggregation + halo-chunked RANGE frame
# ---------------------------------------------------------------------------

@register(
    "salted_agg_user_value",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id
    """,
    doc="Salted two-phase aggregation (SCALE.md skew ladder #3), "
        "result-equivalence form: events reduce under (user_id, salt8) "
        "first, then by user_id — the manual de-skew for aggregations "
        "whose map-side partials can't save them (composite per-key "
        "state, or a downstream key shuffle forced anyway). The oracle "
        "runs the plain groupBy; a hash match pins that salting never "
        "changes results. Plan pinned in tests: two HashAggregate pairs, "
        "exchange on (key, salt) then key",
)
def q_salted_agg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import salted_twophase_agg

    ev = _t(spark, sf_dir, "events")
    cents = cents_nonneg(F.col("value"))
    return salted_twophase_agg(
        ev, ["user_id"],
        {"cents": F.sum(cents)},
        salt=8, count_col="n",
    )


@register(
    "range_frame_halo_1h",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS c1h
      FROM events
    )
    SELECT user_id, MAX(c1h) AS peak_1h_cents, COUNT(*) AS n_events
    FROM f GROUP BY user_id
    """,
    doc="Trailing-1h RANGE sum via HALO CHUNKING "
        "(operators.relational.range_frame_sum_halo) — the skew escape "
        "hatch measured in the round-10 skewed-window stress (AQE never "
        "splits a skewed WINDOW partition; a 20%-hot key paid +76% on "
        "this exact frame shape). Rows replicate into the next "
        "2h time block when they fall in its trailing 1h halo; the "
        "window partitions by (user, block) so a hot key becomes "
        "ceil(span/chunk) parallel tasks. The oracle computes the PLAIN "
        "per-user window — a hash match proves halo chunking is exactly "
        "the single-partition frame, per user per event. Integer cents "
        "inside the frame (float frame sums are accumulation-order-"
        "dependent); emitted as the per-user peak + event count rollup",
)
def q_range_frame_halo_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import range_frame_sum_halo

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("ts_nanos div 1000000000")
    )
    cents = cents_nonneg(F.col("value"))
    framed = range_frame_sum_halo(
        ev, "user_id", "ts_sec", cents,
        frame=3600, chunk=7200, out_col="c1h",
    )
    return framed.groupBy("user_id").agg(
        F.max("c1h").alias("peak_1h_cents"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a persisted signature store
# ---------------------------------------------------------------------------

@register(
    "minhash_incremental_resume",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents)
    ), p AS (
      SELECT n.doc_id AS id_a, o.doc_id AS id_b,
             len(list_intersect(n.g, o.g)) * 1.0 /
             len(list_distinct(list_concat(n.g, o.g))) AS j
      FROM sh n JOIN sh o ON o.doc_id <> n.doc_id
      WHERE n.doc_id % 5 = 0
    ), f AS (
      SELECT * FROM p WHERE j >= 0.7
    ), c AS (
      SELECT id_a, COUNT(*) AS n_dups FROM f GROUP BY id_a
    ), b AS (
      SELECT id_a, id_b, j,
             ROW_NUMBER() OVER (PARTITION BY id_a
                                ORDER BY j DESC, id_b) AS rn
      FROM f
    )
    SELECT c.id_a AS doc_id, c.n_dups,
           b.id_b AS best_match_id,
           CAST(floor(b.j * 1000000) AS BIGINT) AS best_j_e6
    FROM c JOIN b ON b.id_a = c.id_a AND b.rn = 1
    """,
    doc="Incremental MinHash dedup against a PERSISTED signature store "
        "(r9 verdict ask #5 — the batch resume twin of the streaming "
        "near-dup path): old docs' signatures (doc_id %% 5 != 0) are "
        "written to a parquet store and READ BACK — never recomputed — "
        "while only the 20%% new arrivals get fresh signatures; new docs "
        "band-join (16 bands x 2 rows) against store+new, survivors get "
        "the exact n-gram Jaccard verify (>= 0.7), and the per-new-doc "
        "dup summary is emitted. The oracle computes the exact "
        "new-vs-all ground truth — a hash match pins BOTH that the "
        "resume path loses nothing vs recompute AND that banding at "
        "these parameters has recall 1 on real dups (same 2e-5 miss "
        "bound as ngram_jaccard_verify). The summary is "
        "localCheckpoint-ed on the executors before the scratch store "
        "is removed — no result row ever transits the driver; at "
        "production scale the store is a real table and even the "
        "checkpoint disappears",
)
def q_minhash_incremental_resume(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from functools import partial

    from .operators.dedup import (
        banded_sig_keys,
        minhash_signatures_df,
        neardup_dup_summary,
        ngram_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)

    # the banding stage is SHARED with the streaming twin
    # (streaming.dedup.incremental_neardup_stream) via operators.dedup
    banded = partial(banded_sig_keys, num_hashes=32, bands=16)

    d = tempfile.mkdtemp(prefix="sigstore_")
    try:
        # build + persist the store (in production this already exists;
        # the write is the one-time backfill)
        minhash_signatures_df(old, "text", "doc_id", 32).write.parquet(
            f"{d}/sigs"
        )
        store = spark.read.parquet(f"{d}/sigs")   # resume: old never recomputed
        new_sigs = minhash_signatures_df(new, "text", "doc_id", 32)
        all_sigs = store.unionByName(new_sigs)

        cands = (
            banded(new_sigs, "id_a")
            .join(banded(all_sigs, "id_b"), ["band_id", "band_val"])
            .filter(F.col("id_b") != F.col("id_a"))
            .select("id_a", "id_b")
            .distinct()
        )
        verified = ngram_jaccard(cands, docs, "text", "doc_id").filter(
            F.col("jaccard") >= 0.7
        )
        # the summary fold is SHARED with the streaming twin
        # (streaming.dedup.incremental_resume_summary) via operators.dedup
        summary = neardup_dup_summary(verified)
        # Materialize on the EXECUTORS before the scratch store vanishes
        # (r10 verdict: result rows must never transit the driver) —
        # localCheckpoint severs the lineage back to the deleted parquet.
        # Local-mode contract caveat: checkpoint blocks are unreplicated,
        # so on a cluster with executor churn the result must be consumed
        # (collected/written) before executors recycle; at production
        # scale the store is a real table and this lifecycle disappears.
        out = summary.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Corpus novelty decay + watermark lateness audit
# ---------------------------------------------------------------------------

@register(
    "ngram_novelty_by_batch",
    oracle="""
    WITH g AS (
      SELECT doc_id % 10 AS batch,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS gram
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents)
    ), bg AS (
      SELECT batch, gram FROM g GROUP BY batch, gram
    ), first_seen AS (
      SELECT gram, MIN(batch) AS fb FROM bg GROUP BY gram
    )
    SELECT bg.batch,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.fb = bg.batch THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(floor(SUM(CASE WHEN f.fb = bg.batch THEN 1 ELSE 0 END)
                * 1000000.0 / COUNT(*)) AS BIGINT) AS novelty_ppm
    FROM bg JOIN first_seen f USING (gram)
    GROUP BY bg.batch
    ORDER BY bg.batch
    """,
    doc="Corpus novelty decay across ingestion batches (the dedup-planning "
        "curve for multi-dump crawls): docs bucket into 10 ingestion "
        "batches by doc_id, each batch reports its distinct-trigram count "
        "and the fraction first seen in that batch (ppm). Shape: explode "
        "grams scan-side, ONE (batch, gram)-distinct aggregate, a "
        "(gram)-min aggregate over the TYPE table, join back — every "
        "cumulative quantity computed on gram types, never corpus rows. "
        "At 100 TB the gram-type table is Heaps'-law small relative to "
        "the corpus and both aggregates are map-side combinable",
)
def q_ngram_novelty_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import shingles

    docs = _t(spark, sf_dir, "documents")
    bg = (
        docs.select(
            (F.col("doc_id") % 10).alias("batch"),
            F.explode(shingles(F.col("text"), 3)).alias("gram"),
        )
        .groupBy("batch", "gram")
        .agg(F.lit(1))
        .select("batch", "gram")
        # two plan branches consume bg (first_seen + the join-back); an
        # unmaterialized bg re-runs the gram explode + distinct aggregate
        # per branch (2x the corpus scan). The type table is Heaps'-law
        # small, so one local materialization beats the second scan.
        .localCheckpoint(eager=True)
    )
    first_seen = bg.groupBy("gram").agg(F.min("batch").alias("fb"))
    return (
        bg.join(first_seen, "gram")
        .groupBy("batch")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("fb") == F.col("batch")).cast("long"))
            .alias("n_new"),
        )
        .select(
            "batch", "n_grams", "n_new",
            F.floor(F.col("n_new") * 1e6 / F.col("n_grams"))
            .cast("long").alias("novelty_ppm"),
        )
        .orderBy("batch")
    )


@register(
    "watermark_lateness_audit",
    oracle="""
    WITH m AS (
      SELECT event_id, epoch_us(ts) AS tus,
             MAX(epoch_us(ts)) OVER (ORDER BY event_id
                                     ROWS UNBOUNDED PRECEDING) AS hi
      FROM events
    ), lat AS (
      SELECT hi - tus AS late_us FROM m
    )
    SELECT CASE WHEN late_us <= 0 THEN 'a_on_time'
                WHEN late_us <= 60000000 THEN 'b_1min'
                WHEN late_us <= 600000000 THEN 'c_10min'
                WHEN late_us <= 1800000000 THEN 'd_30min'
                ELSE 'e_dropped_at_30min' END AS bucket,
           COUNT(*) AS n
    FROM lat GROUP BY 1 ORDER BY 1
    """,
    doc="Watermark lateness audit (the batch study that picks a streaming "
        "watermark delay): lateness of each event = high-watermark of "
        "event time over arrival order (event_id) minus its own event "
        "time, bucketed into the candidate delays; the last bucket is "
        "the UPPER BOUND on what a 30-min watermark drops (Spark "
        "advances watermarks per micro-batch, not per row, so real "
        "drops are at most this idealized per-row count). The running max is computed "
        "two-level (per-1024-block max, tiny block-prefix table joined "
        "back, then an in-block window) so no fact-scale relation ever "
        "serializes through one ordered partition — the oracle's plain "
        "global window is the semantics, not the plan. Shape: one narrow "
        "block shuffle + a bounded block-prefix broadcast",
)
def q_watermark_lateness_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        (F.col("event_id") / 1024).cast("long").alias("blk"),
    )
    # two-level running max: per-block maxes are a bounded relation, the
    # strictly-preceding-block prefix max comes from a bounded window over
    # it, and the in-block running max is an ordinary per-block window
    blk_max = ev.groupBy("blk").agg(F.max("tus").alias("bmax"))
    from .functions.windows import bounded_window
    wprev = bounded_window("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = blk_max.select(
        "blk", F.max("bmax").over(wprev).alias("prev_hi")
    )
    win = Window.partitionBy("blk").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lat = (
        ev.join(F.broadcast(prefix), "blk")
        .withColumn("in_blk_hi", F.max("tus").over(win))
        .withColumn(
            "hi", F.greatest(F.coalesce("prev_hi", F.lit(0)), "in_blk_hi")
        )
        .select((F.col("hi") - F.col("tus")).alias("late_us"))
    )
    bucket = (
        F.when(F.col("late_us") <= 0, "a_on_time")
        .when(F.col("late_us") <= 60_000_000, "b_1min")
        .when(F.col("late_us") <= 600_000_000, "c_10min")
        .when(F.col("late_us") <= 1_800_000_000, "d_30min")
        .otherwise("e_dropped_at_30min")
    )
    return (
        lat.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# CDC net-effect compaction + two planning advisors
# ---------------------------------------------------------------------------

@register(
    "cdc_net_effect_compact",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderkey % 10 AS shard,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), net AS (
      SELECT shard,
             CASE WHEN k % 7 = 0 THEN NULL           -- last op: delete
                  WHEN k % 3 = 0 THEN cents          -- last op: update
                  ELSE cents * 9 // 10 END AS fc     -- only the insert
      FROM base
    )
    SELECT shard,
           CAST(COUNT(fc) AS BIGINT) AS n_live,
           CAST(COUNT(*) - COUNT(fc) AS BIGINT) AS n_tombstones,
           CAST(COALESCE(SUM(fc), 0) AS BIGINT) AS sum_final_cents
    FROM net GROUP BY shard ORDER BY shard
    """,
    doc="CDC net-effect compaction — the micro-batch pre-step before "
        "MERGE: a changelog with several ops per key (insert at 90%% "
        "price, update to full price for keys %%3, delete for keys %%7) "
        "collapses to one net row per key (last-writer-wins, deletes "
        "become tombstones) in ONE window pass, then rolls up per shard. "
        "The oracle derives each key's net effect analytically, so a "
        "hash match proves the windowed collapse picks exactly the last "
        "op and never resurrects overwritten values. Shape: the "
        "changelog shuffles once on key for the row_number window; "
        "compacting BEFORE merge_upsert turns K ops/key into 1 and is "
        "what keeps the downstream full-outer merge join linear in KEYS "
        "rather than ops at 100 TB — the exact collapse "
        "streaming/cdc.apply_cdc_batch performs as step 1 of every "
        "micro-batch; this query is its hash-graded batch twin",
)
def q_cdc_net_effect_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        cents_nonneg(F.col("o_totalprice")).alias("cents"),
    )
    ins = orders.select(
        "k", F.lit(1).alias("seq"), F.lit("I").alias("op"),
        F.expr("cents * 9 div 10").cast("long").alias("val"),
    )
    upd = orders.filter(F.col("k") % 3 == 0).select(
        "k", F.lit(2).alias("seq"), F.lit("U").alias("op"),
        F.col("cents").alias("val"),
    )
    dele = orders.filter(F.col("k") % 7 == 0).select(
        "k", F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("val"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    net = (
        log.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "k", (F.col("k") % 10).alias("shard"),
            F.when(F.col("op") == "D", F.lit(None).cast("long"))
            .otherwise(F.col("val")).alias("fc"),
        )
    )
    return (
        net.groupBy("shard")
        .agg(
            F.count("fc").alias("n_live"),
            (F.count("*") - F.count("fc")).alias("n_tombstones"),
            F.coalesce(F.sum("fc"), F.lit(0)).cast("long")
            .alias("sum_final_cents"),
        )
        .orderBy("shard")
    )


@register(
    "partition_size_advisor",
    oracle="""
    WITH est AS (
      SELECT 'lineitem' AS tbl,
             CAST(SUM(8*4 + 4 + 8*4 + 8
                      + length(l_returnflag) + length(l_linestatus))
                  AS BIGINT) AS est_bytes
      FROM lineitem
      UNION ALL
      SELECT 'orders',
             CAST(SUM(8*2 + 8 + 8 + length(o_orderstatus)
                      + length(o_orderpriority)) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'events',
             CAST(SUM(8*2 + 8 + 8 + length(event_type) + length(props))
                  AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'documents',
             CAST(SUM(8*2 + length(text) + length(lang) + length(source))
                  AS BIGINT)
      FROM documents
    )
    SELECT tbl, est_bytes,
           GREATEST(1, (est_bytes + 134217727) // 134217728)
             AS scan_partitions,
           LEAST(2000, GREATEST(32, (est_bytes + 67108863) // 67108864))
             AS shuffle_partitions
    FROM est ORDER BY tbl
    """,
    doc="Partition-size advisor — the SCALE.md sizing knobs "
        "(spark.sql.files.maxPartitionBytes=128MB, shuffle partitions "
        "bounded [32, 2000] at 64MB targets) computed FROM the data: "
        "per-table logical byte estimate (8B per fixed-width column, "
        "string lengths summed) -> ceil-divided into advised scan and "
        "shuffle partition counts. Joins the advisor family "
        "(encoding_advisor_events, join_order_advisor, lsh_band_planner). "
        "Shape: one map-side-combinable SUM per table, four rows out; "
        "the estimate is exactly what a cluster job would derive from "
        "ANALYZE-style stats before choosing its conf",
)
def q_partition_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    def est(df: DataFrame, tbl: str, expr: str) -> DataFrame:
        return df.agg(
            F.expr(f"CAST(SUM({expr}) AS LONG)").alias("est_bytes")
        ).select(F.lit(tbl).alias("tbl"), "est_bytes")

    li = est(_t(spark, sf_dir, "lineitem"), "lineitem",
             "8*4 + 4 + 8*4 + 8 + length(l_returnflag)"
             " + length(l_linestatus)")
    o = est(_t(spark, sf_dir, "orders"), "orders",
            "8*2 + 8 + 8 + length(o_orderstatus) + length(o_orderpriority)")
    ev = est(_t(spark, sf_dir, "events"), "events",
             "8*2 + 8 + 8 + length(event_type) + length(props)")
    dc = est(_t(spark, sf_dir, "documents"), "documents",
             "8*2 + length(text) + length(lang) + length(source)")
    allt = li.unionByName(o).unionByName(ev).unionByName(dc)
    return allt.select(
        "tbl", "est_bytes",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(est_bytes + 134217727) div 134217728"),
        ).alias("scan_partitions"),
        F.least(
            F.lit(2000).cast("long"),
            F.greatest(F.lit(32).cast("long"),
                       F.expr("(est_bytes + 67108863) div 67108864")),
        ).alias("shuffle_partitions"),
    ).orderBy("tbl")


@register(
    "rendezvous_hash_routing",
    oracle="""
    WITH scored AS (
      SELECT c_custkey AS k, CAST(n.node AS BIGINT) AS node,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|' ||
                                      CAST(n.node AS VARCHAR)), 1, 15))
                  AS BIGINT) AS score
      FROM customer, (SELECT unnest(range(8)) AS node) n
    ), r8 AS (
      SELECT k, node FROM (
        SELECT k, node,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY score DESC, node DESC) AS rn
        FROM scored) WHERE rn = 1
    ), r7 AS (
      SELECT k, node FROM (
        SELECT k, node,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY score DESC, node DESC) AS rn
        FROM scored WHERE node < 7) WHERE rn = 1
    )
    SELECT r8.node,
           COUNT(*) AS n_keys,
           CAST(SUM(CASE WHEN r8.node <> r7.node THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM r8 JOIN r7 USING (k)
    GROUP BY r8.node ORDER BY r8.node
    """,
    doc="Rendezvous (highest-random-weight) hash routing audit — the "
        "shard router that moves ONLY the failed node's keys (Thaler & "
        "Ravishankar '96), complementing consistent_hash_migration's "
        "ring: every customer scores all 8 nodes via the portable "
        "md5-to-int64 hash, routes to the argmax, then the same under "
        "node 7 removed. Hash-pinned invariant: n_moved equals n_keys "
        "on node 7 and zero elsewhere — HRW's minimal-disruption "
        "property, computed not asserted. Shape: scan-side score "
        "arrays, argmax via array_max over (score, node) structs, one "
        "count aggregate; node count is a literal so the score fan-out "
        "is O(8) per key with no shuffle beyond the final rollup",
)
def q_rendezvous_hash_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    def score(node: int):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("k").cast("string"),
                                  F.lit(str(node)))), 1, 15),
            16, 10,
        ).cast("long")

    structs8 = F.array(*[
        F.struct(score(n).alias("score"), F.lit(n).cast("long").alias("node"))
        for n in range(8)
    ])
    structs7 = F.array(*[
        F.struct(score(n).alias("score"), F.lit(n).cast("long").alias("node"))
        for n in range(7)
    ])
    routed = cust.select(
        "k",
        F.array_max(structs8)["node"].alias("node8"),
        F.array_max(structs7)["node"].alias("node7"),
    )
    return (
        routed.groupBy(F.col("node8").alias("node"))
        .agg(
            F.count("*").alias("n_keys"),
            F.sum((F.col("node8") != F.col("node7")).cast("long"))
            .alias("n_moved"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# LSH observability + sessionization tuning study
# ---------------------------------------------------------------------------

def _hot_bucket_oracle() -> str:
    from .operators.dedup import simhash_portable_oracle

    inner = simhash_portable_oracle()
    return f"""
    WITH sig AS ({inner}),
    stacked AS (
      SELECT CAST(0 AS BIGINT) AS band_id, band15_0 AS val FROM sig
      UNION ALL SELECT 1, band15_1 FROM sig
      UNION ALL SELECT 2, band15_2 FROM sig
      UNION ALL SELECT 3, band15_3 FROM sig
    ), buckets AS (
      SELECT band_id, val, COUNT(*) AS n
      FROM stacked GROUP BY band_id, val
    )
    SELECT band_id,
           COUNT(*) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN n > 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_cap8,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS est_pairs
    FROM buckets GROUP BY band_id ORDER BY band_id
    """


@register(
    "hot_bucket_cap_audit",
    oracle=_hot_bucket_oracle(),
    doc="LSH bucket observability — the study behind every max_bucket cap "
        "in the dedup family: SimHash 15-bit band buckets are profiled "
        "per band (bucket count, max size, count past the cap, exact "
        "candidate-pair mass sum n*(n-1)/2). est_pairs IS the verify-join "
        "cost the banded plan pays, so this audit is how a pipeline "
        "decides caps BEFORE the quadratic bucket bites at 100 TB. "
        "Oracled end-to-end by wrapping the portable-simhash SQL replay. "
        "Shape: the two simhash aggregations + one (band, val) count — "
        "all map-side combinable",
)
def q_hot_bucket_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_portable

    docs = _t(spark, sf_dir, "documents")
    sig = simhash_portable(docs, "text", "doc_id")
    stacked = sig.select(
        F.posexplode(
            F.array(*[F.col(f"band15_{i}") for i in range(4)])
        ).alias("band_id", "val")
    ).select(F.col("band_id").cast("long").alias("band_id"), "val")
    buckets = stacked.groupBy("band_id", "val").agg(
        F.count("*").alias("n")
    )
    return (
        buckets.groupBy("band_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum((F.col("n") > 8).cast("long")).alias("n_over_cap8"),
            F.sum(F.expr("n * (n - 1) div 2")).cast("long")
            .alias("est_pairs"),
        )
        .orderBy("band_id")
    )



@register(
    "session_gap_histogram",
    oracle="""
    WITH g AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events
    ), b AS (
      SELECT CASE WHEN gap_us <= 60000000 THEN 'a_under_1m'
                  WHEN gap_us <= 300000000 THEN 'b_1_5m'
                  WHEN gap_us <= 1800000000 THEN 'c_5_30m'
                  WHEN gap_us <= 7200000000 THEN 'd_30m_2h'
                  ELSE 'e_over_2h' END AS bucket
      FROM g WHERE gap_us IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n,
           CAST(floor(COUNT(*) * 1000000.0 /
                      (SELECT COUNT(*) FROM b)) AS BIGINT) AS share_ppm
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="Per-user inter-event gap histogram — the tuning study behind "
        "sessionize's 30-minute rule (and any session-window watermark): "
        "gaps bucket into the candidate thresholds, with ppm shares. The "
        "c/d boundary at 30 min IS the sessionize cut — the histogram "
        "shows how much session structure moves if it shifts. Shape: one "
        "user-keyed shuffle for the lag window, then a 5-row rollup; the "
        "share denominator is a 1-row broadcast scalar",
)
def q_session_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = ev.select(
        (F.col("tus") - F.lag("tus").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = (
        F.when(F.col("gap_us") <= 60_000_000, "a_under_1m")
        .when(F.col("gap_us") <= 300_000_000, "b_1_5m")
        .when(F.col("gap_us") <= 1_800_000_000, "c_5_30m")
        .when(F.col("gap_us") <= 7_200_000_000, "d_30m_2h")
        .otherwise("e_over_2h")
    )
    counts = gaps.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )
    # the denominator comes from the 5-row counts relation itself (a
    # bounded window), NOT a second aggregate over gaps — a separate
    # total branch re-scans events and re-runs the lag window
    from .functions.windows import bounded_window
    return (
        counts.select(
            "bucket", "n",
            F.floor(
                F.col("n") * 1e6 / F.sum("n").over(bounded_window())
            ).cast("long").alias("share_ppm"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Embedding-table health + snapshot version diff
# ---------------------------------------------------------------------------

@register(
    "embedding_batch_drift",
    oracle="""
    WITH e AS (
      SELECT vec_id % 8 AS batch,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1048576) AS BIGINT)) AS q
      FROM embeddings
    ), bd AS (
      SELECT batch, u.i AS dim,
             CAST(SUM(q[u.i]) AS BIGINT) AS s, COUNT(*) AS n
      FROM e, unnest(range(1, len(q) + 1)) AS u(i)
      GROUP BY batch, u.i
    ), gd AS (
      SELECT dim, CAST(SUM(s) AS BIGINT) AS sg,
             CAST(SUM(n) AS BIGINT) AS ng
      FROM bd GROUP BY dim
    ), c AS (
      SELECT bd.batch, bd.n,
             (bd.s // bd.n) - (gd.sg // gd.ng) AS diff
      FROM bd JOIN gd USING (dim)
    )
    SELECT batch, CAST(MAX(n) AS BIGINT) AS n_vecs,
           CAST(SUM(diff * diff) AS BIGINT) AS drift_q
    FROM c GROUP BY batch ORDER BY batch
    """,
    doc="Embedding-table health monitor — per-ingestion-batch centroid "
        "drift from the global centroid, the encoder-version-skew / "
        "pipeline-regression detector for an embedding store: vectors "
        "quantize at 2^20 (floor on identical doubles — engine-exact), "
        "per-(batch, dim) integer sums reduce map-side, the GLOBAL "
        "per-dim sums derive from the batch sums (no second scan), and "
        "drift = sum over dims of squared fixed-point centroid deltas. "
        "All int64; truncating div matches across engines on signed "
        "operands. Shape: one (batch, dim) shuffle of 8x64 integer "
        "partials regardless of corpus size",
)
def q_embedding_batch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 8).alias("batch"),
        F.posexplode(
            F.expr("transform(embedding, x -> "
                   "cast(floor(cast(x as double) * 1048576) as long))")
        ).alias("i0", "q"),
    ).select("batch", (F.col("i0") + 1).alias("dim"), "q")
    bd = e.groupBy("batch", "dim").agg(
        F.sum("q").cast("long").alias("s"), F.count("*").alias("n")
    )
    gd = bd.groupBy("dim").agg(
        F.sum("s").cast("long").alias("sg"),
        F.sum("n").cast("long").alias("ng"),
    )
    c = bd.join(gd, "dim").select(
        "batch", "n",
        (F.expr("s div n") - F.expr("sg div ng")).alias("diff"),
    )
    return (
        c.groupBy("batch")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.sum(F.col("diff") * F.col("diff")).cast("long")
            .alias("drift_q"),
        )
        .orderBy("batch")
    )


@register(
    "snapshot_diff_audit",
    oracle="""
    WITH early AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
    ), rest AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-07-01'
    ), compacted AS (
      SELECT o_orderkey, c FROM early WHERE o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey, c FROM rest
    )
    SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
           (SELECT COUNT(*) FROM rest) AS n_added,
           CAST(0 AS BIGINT) AS n_removed,
           (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM rest)
             AS added_cents
    UNION ALL
    SELECT 1, 2,
           CAST(0 AS BIGINT),
           (SELECT COUNT(*) FROM early WHERE o_orderkey % 3 = 0),
           CAST(0 AS BIGINT)
    ORDER BY from_v
    """,
    doc="Snapshot version DIFF audit — the table-history introspection a "
        "lakehouse needs beyond time travel: the query runs a real "
        "commit(v0 = pre-1995H2 orders) -> append(v1 += the rest) -> "
        "overwrite(v2 = v1 minus every orderkey %% 3 == 0 early row: a "
        "retention purge) cycle on a scratch SnapshotTable, then computes "
        "row-level diffs BETWEEN versions via exceptAll in both "
        "directions (added, removed, added-cents mass). The oracle "
        "predicts both diffs analytically from orders — a hash match "
        "proves version reads are exact row multisets, not just counts. "
        "Bounded: two 1-row diff summaries cross the driver before the "
        "scratch table is removed (snapshot_time_travel_audit lifecycle)",
)
def q_snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTable

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents_nonneg(F.col("o_totalprice")).alias("c"),
        "o_orderdate",
    )
    early = orders.filter(F.col("o_orderdate") < "1995-07-01").drop(
        "o_orderdate"
    )
    rest = orders.filter(F.col("o_orderdate") >= "1995-07-01").drop(
        "o_orderdate"
    )
    d = tempfile.mkdtemp(prefix="snapdiff_")
    try:
        t = SnapshotTable(d)
        t.commit(early)                                   # v0
        t.commit(rest, mode="append")                     # v1
        # v2 = v1 minus the %3==0 EARLY rows (retention purge rewrite)
        keep = t.read(spark).join(
            early.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"),
            "o_orderkey", "left_anti",
        )
        t.commit(keep, mode="overwrite")                  # v2
        rows = []
        for a, b in [(0, 1), (1, 2)]:
            va, vb = t.read(spark, a), t.read(spark, b)
            added = vb.exceptAll(va)
            removed = va.exceptAll(vb)
            s = added.agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("sc"),
            ).collect()[0]
            r = removed.agg(F.count("*").alias("n")).collect()[0]
            rows.append((a, b, s["n"], r["n"], s["sc"]))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "from_v long, to_v long, n_added long, n_removed long, "
        "added_cents long",
    )


# ---------------------------------------------------------------------------
# b-bit MinHash compression + Merkle-style range diff
# ---------------------------------------------------------------------------

_BB_P = (1 << 31) - 1
_BB_K = 16


def _bbit_minhash_oracle() -> str:
    mins = ",\n             ".join(
        f"CAST(MIN((h * {2 * j + 1} + {9973 * (j + 1)}) % {_BB_P}) % 2"
        f" AS BIGINT) AS b{j}"
        for j in range(_BB_K)
    )
    bitsum = " + ".join(
        f"(CASE WHEN a.b{j} = b.b{j} THEN 1 ELSE 0 END)"
        for j in range(_BB_K)
    )
    return f"""
    WITH sample AS (
      SELECT doc_id, lower(trim(text)) AS t FROM documents
      WHERE doc_id % 11 = 0
    ), th AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_BB_P} AS h
      FROM (SELECT doc_id,
                   unnest(list_distinct(
                     regexp_split_to_array(t, '\\s+'))) AS tok
            FROM sample)
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM th GROUP BY doc_id
    ), toksets AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(t, '\\s+')) AS s
      FROM sample
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({bitsum} AS BIGINT) AS n_match_bits
      FROM sig a JOIN sig b ON b.doc_id > a.doc_id
    )
    SELECT p.id_a, p.id_b, p.n_match_bits,
           CAST(GREATEST(0, (2 * p.n_match_bits - {_BB_K}) * 1000000
                            // {_BB_K}) AS BIGINT) AS est_j_e6,
           CAST(floor(len(list_intersect(ta.s, tb.s)) * 1000000.0 /
                      len(list_distinct(list_concat(ta.s, tb.s))))
                AS BIGINT) AS exact_j_e6
    FROM pairs p
    JOIN toksets ta ON ta.doc_id = p.id_a
    JOIN toksets tb ON tb.doc_id = p.id_b
    """


@register(
    "bbit_minhash_estimate",
    oracle=_bbit_minhash_oracle(),
    doc="b-bit MinHash (Li & Koenig, WWW'10): 16 one-bit minwise hashes "
        "pack a resemblance sketch into TWO BYTES per doc — 128x smaller "
        "than the 32-long signature the store persists — at the cost of "
        "estimator variance. Each sampled doc pair emits matched-bit "
        "count, the unbiased-at-r=0.5 estimate max(0, 2m/k - 1), and the "
        "exact token-set Jaccard, all integer fixed-point; the oracle "
        "replays the md5-60 token hashes, the (2j+1)h + 9973(j+1) mod "
        "2^31-1 minwise family, and the bit packing exactly. The "
        "est-vs-exact pairing IS the storage-tradeoff study a pipeline "
        "runs before shrinking its signature store. Shape: one "
        "(doc, token)-distinct aggregate with 16 min-combiners (map-side "
        "combinable), pair join only over the bounded sample",
)
def q_bbit_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 11 == 0
    ).select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"))
    th = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("t"), r"\s+"))
        ).alias("tok"),
    ).select(
        "doc_id", (portable_hash60(F.col("tok")) % _BB_P).alias("h")
    )
    sig = th.groupBy("doc_id").agg(*[
        (F.min((F.col("h") * (2 * j + 1) + 9973 * (j + 1)) % _BB_P) % 2)
        .cast("long").alias(f"b{j}")
        for j in range(_BB_K)
    ])
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("t"), r"\s+")).alias("s")
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(_BB_K)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(_BB_K)],
    )
    nm = None
    for j in range(_BB_K):
        term = (F.col(f"a{j}") == F.col(f"bb{j}")).cast("long")
        nm = term if nm is None else nm + term
    pairs = (
        a.join(b, F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b", nm.alias("n_match_bits"))
    )
    ta = toksets.select(F.col("doc_id").alias("id_a"),
                        F.col("s").alias("sa"))
    tb = toksets.select(F.col("doc_id").alias("id_b"),
                        F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    return (
        pairs.join(ta, "id_a").join(tb, "id_b")
        .select(
            "id_a", "id_b", "n_match_bits",
            F.greatest(
                F.lit(0).cast("long"),
                F.expr(f"(2 * n_match_bits - {_BB_K}) * 1000000"
                       f" div {_BB_K}"),
            ).alias("est_j_e6"),
            F.floor(inter * 1e6 / union).cast("long").alias("exact_j_e6"),
        )
    )



@register(
    "merkle_range_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, o_orderkey // 500 AS rng,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ), b AS (
      SELECT k, rng,
             CASE WHEN k % 997 = 0 THEN c + 1 ELSE c END AS c
      FROM a WHERE k % 1009 <> 0
    ), da AS (
      SELECT rng, COUNT(*) AS n_a,
             CAST(SUM(CAST('0x' || substr(md5(
               CAST(k AS VARCHAR) || '|' || CAST(c AS VARCHAR)), 1, 15)
               AS BIGINT) % 9007199254740993) % 9007199254740993
               AS BIGINT) AS dg_a
      FROM a GROUP BY rng
    ), db AS (
      SELECT rng, COUNT(*) AS n_b,
             CAST(SUM(CAST('0x' || substr(md5(
               CAST(k AS VARCHAR) || '|' || CAST(c AS VARCHAR)), 1, 15)
               AS BIGINT) % 9007199254740993) % 9007199254740993
               AS BIGINT) AS dg_b
      FROM b GROUP BY rng
    )
    SELECT da.rng AS rng, da.n_a,
           CAST(COALESCE(db.n_b, 0) AS BIGINT) AS n_b
    FROM da LEFT JOIN db USING (rng)
    WHERE db.rng IS NULL OR da.dg_a <> db.dg_b
    ORDER BY rng
    """,
    doc="Merkle-style range diff — the anti-entropy primitive that "
        "LOCALIZES replica divergence (table_content_digest only says "
        "whether two replicas differ; this says WHERE): per-500-key range "
        "digests (order-invariant pre-modded md5-60 sums, int64-safe at "
        "any range width) computed on replica A (orders) and replica B "
        "(a planted corruption: keys %%997 bit-rotted +1 cent, keys "
        "%%1009 lost), divergent ranges emitted with both row counts. "
        "Repair then re-ships only those ranges — at 100 TB the exchange "
        "is |ranges| x 16 bytes instead of the table. The oracle plants "
        "the identical corruption analytically; hash match proves the "
        "digest localizes exactly the mutated/lost ranges and no others",
)
def q_merkle_range_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import portable_hash60

    prime = 9007199254740993
    a = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr("o_orderkey div 500").alias("rng"),
        cents_nonneg(F.col("o_totalprice")).alias("c"),
    )
    b = a.filter(F.col("k") % 1009 != 0).select(
        "k", "rng",
        F.when(F.col("k") % 997 == 0, F.col("c") + 1)
        .otherwise(F.col("c")).alias("c"),
    )

    def digest(df, n_name, d_name):
        ser = F.concat_ws("|", F.col("k").cast("string"),
                          F.col("c").cast("string"))
        return df.groupBy("rng").agg(
            F.count("*").alias(n_name),
            (F.sum(portable_hash60(ser) % prime) % prime)
            .cast("long").alias(d_name),
        )

    da = digest(a, "n_a", "dg_a")
    db = digest(b, "n_b", "dg_b")
    return (
        da.join(db, "rng", "left")
        .filter(
            F.col("dg_b").isNull() | (F.col("dg_a") != F.col("dg_b"))
        )
        .select(
            "rng", "n_a",
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
        .orderBy("rng")
    )


# ---------------------------------------------------------------------------
# Max-min fair share + CBO cardinality feedback
# ---------------------------------------------------------------------------

@register(
    "fair_share_waterfill",
    oracle="""
    WITH d AS (
      SELECT user_id, COUNT(*) AS demand FROM events GROUP BY user_id
    ), cap AS (
      SELECT CAST(SUM(demand) // 2 AS BIGINT) AS c, COUNT(*) AS nu FROM d
    ), dv AS (
      SELECT demand, COUNT(*) AS cnt FROM d GROUP BY demand
    ), r AS (
      SELECT demand,
             CAST(SUM(cnt) OVER (ORDER BY demand
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_u,
             CAST(SUM(demand * cnt) OVER (ORDER BY demand
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_d
      FROM dv
    ), lvl AS (
      -- the largest distinct demand fully satisfiable under progressive
      -- filling: cum_d_k + demand_k * (nu - cum_u_k) <= C -> everyone
      -- above is capped at level = (C - cum_d_k) div (nu - cum_u_k)
      SELECT MAX(demand) AS vk FROM r, cap
      WHERE cum_d + demand * (nu - cum_u) <= c
    ), level AS (
      SELECT CASE WHEN lvl.vk IS NULL THEN (SELECT c // nu FROM cap)
                  ELSE (SELECT (c - r2.cum_d) // (cap.nu - r2.cum_u)
                        FROM r r2, cap WHERE r2.demand = lvl.vk)
             END AS lv
      FROM lvl
    )
    SELECT CAST(SUM(CASE WHEN demand <= lv THEN 1 ELSE 0 END) AS BIGINT)
             AS n_satisfied,
           CAST(SUM(CASE WHEN demand > lv THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped,
           CAST(MAX(lv) AS BIGINT) AS fair_level,
           CAST(SUM(LEAST(demand, lv)) AS BIGINT) AS allocated
    FROM d, level
    """,
    doc="Max-min fair share (waterfilling) — the multi-tenant quota "
        "allocator: per-user event demand against a capacity of half the "
        "total, solved EXACTLY via the sorted-prefix closed form (the "
        "largest rank k whose full demand fits under progressive filling "
        "fixes the water level as (C - cum_k) div (n - k); no iteration). "
        "Emits satisfied/capped tenant counts, the integer fair level, "
        "and total allocation. Shape: one demand aggregate, then the "
        "ordered pass runs over DISTINCT demand values (Zipf-bounded) — "
        "never per-user rows, never events; constant-size output",
)
def q_fair_share_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("user_id").agg(F.count("*").alias("demand"))
    cap = d.agg(
        F.expr("CAST(SUM(demand) div 2 AS LONG)").alias("c"),
        F.count("*").alias("nu"),
    )
    # the ordered pass runs over DISTINCT demand values (the house
    # percentile-family shape), never per-user rows: at 100 TB |users|
    # is fact-scale but distinct per-user counts are Zipf-bounded
    dv = d.groupBy("demand").agg(F.count("*").alias("cnt"))
    w = bounded_window("demand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = dv.select(
        "demand",
        F.sum("cnt").over(w).cast("long").alias("cum_u"),
        F.sum(F.col("demand") * F.col("cnt")).over(w)
        .cast("long").alias("cum_d"),
    ).crossJoin(F.broadcast(cap))
    fits = r.filter(
        F.col("cum_d") + F.col("demand") * (F.col("nu") - F.col("cum_u"))
        <= F.col("c")
    )
    # always one row, nulls when NO value fits (every tenant capped);
    # division by (nu - cum_u) is safe: capacity = total div 2 < total,
    # so the largest demand value can never fully fit (cum_u < nu)
    lastfit = fits.agg(
        F.max_by("cum_d", "demand").alias("cum_k"),
        F.max_by("cum_u", "demand").alias("u_k"),
        F.max("demand").alias("vk"),
    )
    lv = (
        cap.crossJoin(F.broadcast(lastfit))
        .select(
            F.when(
                F.col("vk").isNull(), F.expr("c div nu")
            ).otherwise(
                F.expr("(c - cum_k) div (nu - u_k)")
            ).cast("long").alias("lv")
        )
    )
    return d.crossJoin(F.broadcast(lv)).agg(
        F.sum((F.col("demand") <= F.col("lv")).cast("long"))
        .alias("n_satisfied"),
        F.sum((F.col("demand") > F.col("lv")).cast("long"))
        .alias("n_capped"),
        F.max("lv").alias("fair_level"),
        F.sum(F.least("demand", "lv")).cast("long").alias("allocated"),
    )


@register(
    "join_cardinality_qerror",
    oracle="""
    WITH stats AS (
      SELECT
        (SELECT COUNT(*) FROM lineitem) AS n_l,
        (SELECT COUNT(*) FROM orders) AS n_o,
        (SELECT COUNT(*) FROM customer) AS n_c,
        (SELECT COUNT(*) FROM part) AS n_p,
        (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS d_l_ok,
        (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS d_o_ok,
        (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS d_o_ck,
        (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS d_c_ck,
        (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS d_l_pk,
        (SELECT COUNT(DISTINCT p_partkey) FROM part) AS d_p_pk
    ), act AS (
      SELECT
        (SELECT COUNT(*) FROM lineitem l JOIN orders o
           ON l.l_orderkey = o.o_orderkey) AS a_lo,
        (SELECT COUNT(*) FROM orders o JOIN customer c
           ON o.o_custkey = c.c_custkey) AS a_oc,
        (SELECT COUNT(*) FROM lineitem l JOIN part p
           ON l.l_partkey = p.p_partkey) AS a_lp
    ), rows_out AS (
      SELECT 'lineitem_orders' AS edge,
             CAST(n_l * n_o // GREATEST(d_l_ok, d_o_ok) AS BIGINT) AS est,
             CAST(a_lo AS BIGINT) AS actual
      FROM stats, act
      UNION ALL
      SELECT 'orders_customer',
             CAST(n_o * n_c // GREATEST(d_o_ck, d_c_ck) AS BIGINT),
             CAST(a_oc AS BIGINT)
      FROM stats, act
      UNION ALL
      SELECT 'lineitem_part',
             CAST(n_l * n_p // GREATEST(d_l_pk, d_p_pk) AS BIGINT),
             CAST(a_lp AS BIGINT)
      FROM stats, act
    )
    SELECT edge, est, actual,
           CAST(GREATEST(est * 1000 // GREATEST(actual, 1),
                         actual * 1000 // GREATEST(est, 1))
                AS BIGINT) AS qerror_e3
    FROM rows_out ORDER BY edge
    """,
    doc="CBO cardinality feedback — the validation loop behind "
        "join_order_advisor: for each TPC-H join edge, the System R "
        "independence estimate |A|x|B| / max(ndv_A, ndv_B) is computed "
        "from exact catalog stats and compared to the ACTUAL join "
        "cardinality; the q-error (max of the two ratios, milli-scale) "
        "is the standard planner-quality metric (Leis et al., 'How Good "
        "Are Query Optimizers, Really?', PVLDB'15). On FK joins the "
        "estimate is exact (q-error 1.000) — emitted, not asserted, so "
        "any stats drift or estimator bug surfaces as a hash change. "
        "Shape: count-distinct aggregates per table + three key-only "
        "joins; at 100 TB the ndv side becomes an HLL sketch and THIS "
        "query is how you measure what that approximation costs",
)
def q_join_cardinality_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def one(name, a, b, ka, kb):
        n_a = a.count()
        n_b = b.count()
        d_a = a.select(ka).distinct().count()
        d_b = b.select(kb).distinct().count()
        actual = a.select(F.col(ka).alias("__k")).join(
            b.select(F.col(kb).alias("__k")), "__k"
        ).count()
        est = n_a * n_b // max(d_a, d_b)
        q = max(est * 1000 // max(actual, 1), actual * 1000 // max(est, 1))
        return (name, est, actual, q)

    rows = [
        one("lineitem_orders", li, o, "l_orderkey", "o_orderkey"),
        one("orders_customer", o, c, "o_custkey", "c_custkey"),
        one("lineitem_part", li, p, "l_partkey", "p_partkey"),
    ]
    return spark.createDataFrame(
        rows, "edge string, est long, actual long, qerror_e3 long"
    ).orderBy("edge")
