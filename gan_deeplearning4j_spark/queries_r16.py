"""Round-13 packing/ordering wave.

Wave focus (r12 verdict ask #4): training-data PACKING and ORDERING —
the pretraining-pipeline stage between curation (queries_r14) and the
training loop. Three ops the verdict named, plus three composites:

- token-budget sequence packing into fixed context windows with
  OVERFLOW-SPLIT semantics (``token_window_packing``) — exactly the
  shape ★``length_bucket_batches`` (cumsum batches, no boundary split)
  and ★``greedy_pack_bins`` (no-split first-fit) stop short of;
- deterministic seeded epoch shuffle (``seeded_epoch_shuffle``) — the
  distributed analogue of the reference's seeded sampling
  (``Python/gan.ipynb`` raw 122-143: np.random.choice over class
  strata; here the seed is an epoch salt and the stream is a
  hash-ordered permutation every engine replays bit-equally);
- per-source quotas scheduled ACROSS epochs with rotation/wraparound
  (``epoch_domain_mix_schedule``) — ★``domain_mix_weighted`` extended
  over epoch boundaries;
- fragmentation/salvage audit of the split packing
  (``pack_fragmentation_report``), curation→packing composition
  (``repack_delta_audit``), and realized-vs-target token-mix drift
  (``mix_schedule_drift_audit``).

Name sweep (the r12 lesson, done BEFORE drafting): ``greedy_pack_bins``
(no-split first-fit per shard), ``curriculum_interleave`` (difficulty
interleave), ``shard_balance_audit`` (writer-shard balance) and
``temperature_mixture_weights`` (static tau weights) already pin the
adjacent ops — each query below is a different grain or different
semantics, stated in its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _t, register


# house tokenization (identical to length_bucket_batches / queries_r14):
# trim + whitespace split + drop empties — the ONE definition lives with
# the packing operator so queries and operator cannot drift
from .operators.packing import n_tokens_col as _n_tokens
from .operators.packing import packing_summary as _packing_summary


# Shared oracle CTE: per-doc token spans under contiguous per-source
# stream packing — docs ordered by the house Lehmer key within source,
# running token sum, span [s_start, s_end) split at 512-token window
# boundaries. first_w/last_w are the first/last window the doc touches.
_SPANS_CTE = r"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(trim(text),
                  '\s+'), x -> x != '')) AS BIGINT) AS nt
      FROM documents
    ), spans AS (
      SELECT doc_id, source, nt,
             CAST(SUM(nt) OVER (
               PARTITION BY source
               ORDER BY (doc_id * 48271) % 65537, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_end
      FROM toks
    ), sp AS (
      SELECT doc_id, source, nt, s_end, s_end - nt AS s_start,
             (s_end - nt) // 512 AS first_w,
             (s_end - 1) // 512 AS last_w
      FROM spans
    )
"""


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # operators/packing.token_spans in its single-window form (20 small
    # sources at test SFs); the two-level shards= form is the 100 TB
    # path, output-identical (equivalence-pinned in test_operators.py,
    # measured in scripts/stress_packing.py)
    from .operators.packing import token_spans

    return token_spans(_t(spark, sf_dir, "documents"), budget=512)


# Shared oracle CTE: the rotating epoch schedule — docs rank
# deterministically within source, epoch e takes the q contiguous ranks
# starting at (e*q mod n) with wraparound. nt rides along for the
# drift audit; the schedule query ignores it.
_SCHED_CTE = r"""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(trim(text),
                  '\s+'), x -> x != '')) AS BIGINT) AS nt,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 48271) % 65537, doc_id) - 1
               AS BIGINT) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n,
             CASE WHEN CAST(substr(source, 4) AS INT) < 10
                  THEN CAST(12 AS BIGINT) ELSE CAST(6 AS BIGINT) END
               AS q
      FROM documents
    ), ep AS (
      SELECT unnest(range(4)) AS epoch
    ), taken AS (
      SELECT r.doc_id, r.source, r.nt, r.rk, r.n, r.q, ep.epoch
      FROM ranked r CROSS JOIN ep
      WHERE ((r.rk - ep.epoch * r.q) % r.n + r.n) % r.n < r.q
    )
"""


def _schedule_taken(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy(
        (F.col("doc_id") * 48271) % 65537, F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "source", _n_tokens().alias("nt"),
        (F.row_number().over(wr) - 1).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("long")
        .alias("n"),
        F.when(F.expr("CAST(substring(source, 4) AS INT)") < 10,
               F.lit(12)).otherwise(F.lit(6)).cast("long").alias("q"),
    )
    epochs = F.broadcast(
        spark.range(4).select(F.col("id").cast("long").alias("epoch"))
    )
    return ranked.crossJoin(epochs).filter(
        (((F.col("rk") - F.col("epoch") * F.col("q")) % F.col("n")
          + F.col("n")) % F.col("n")) < F.col("q")
    )


# ---------------------------------------------------------------------------
# 1. token-window packing with overflow-split semantics
# ---------------------------------------------------------------------------

@register(
    "token_window_packing",
    headline=True,
    oracle=_SPANS_CTE + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST((SUM(nt) + 511) // 512 AS BIGINT) AS n_windows,
           CAST(COUNT(*) FILTER (WHERE last_w > first_w) AS BIGINT)
             AS n_split_docs,
           CAST(SUM(last_w - first_w) AS BIGINT) AS boundary_crossings,
           CAST(CASE WHEN SUM(nt) = 0 THEN 0 ELSE
                SUM(nt) - ((SUM(nt) + 511) // 512 - 1) * 512 END AS BIGINT)
             AS tail_fill_tokens
    FROM sp GROUP BY source ORDER BY source
    """,
    doc="Token-budget sequence packing into fixed 512-token context "
        "windows with OVERFLOW-SPLIT semantics: each source is one "
        "contiguous token stream (docs in deterministic Lehmer order), "
        "a doc whose span crosses a 512 boundary is SPLIT across the "
        "adjacent windows — zero padding by construction, the packing "
        "GPT-style pretraining uses. Exactly the shape "
        "★length_bucket_batches (cumsum batches, no split accounting) "
        "and ★greedy_pack_bins (no-split first-fit, padding waste) stop "
        "short of; this emits the split accounting: per source, window "
        "count (= ceil(tokens/512), exact because splitting leaves no "
        "padding), docs split across a boundary, total boundary "
        "crossings (a 1200-token doc crosses 2+), and the tail "
        "window's fill. Every column exact int64; /512 divisions are "
        "power-of-two-exact doubles truncated, == integer div. Scale: "
        "one shuffle keyed by source; the running sum is a single "
        "window pass; at 100 TB the stream key is (source, shard) — "
        "each shard packs independently and the per-shard window ids "
        "offset by a broadcast prefix count, the two-level "
        "prefix-merge pattern (SCALE.md round 10).",
)
def q_token_window_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the aggregate IS operators/packing.packing_summary — one
    # implementation for the registered query, the stress harness, and
    # the two-level scale path
    return _packing_summary(_spans(spark, sf_dir), budget=512)


# ---------------------------------------------------------------------------
# 2. fragmentation / tail-salvage report (doc grain of the same packing)
# ---------------------------------------------------------------------------

@register(
    "pack_fragmentation_report",
    oracle=_SPANS_CTE + """
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE last_w = first_w) AS BIGINT)
             AS n_intact,
           CAST(COUNT(*) FILTER (WHERE last_w = first_w + 1) AS BIGINT)
             AS n_2frag,
           CAST(COUNT(*) FILTER (WHERE last_w > first_w + 1) AS BIGINT)
             AS n_3plus_frag,
           CAST(COUNT(*) FILTER (WHERE last_w > first_w
                AND s_end - last_w * 512 < 64) AS BIGINT)
             AS n_tail_lt64,
           CAST(COALESCE(SUM(s_end - last_w * 512) FILTER (
                WHERE last_w > first_w AND s_end - last_w * 512 < 64),
                0) AS BIGINT) AS salvage_tokens_lost,
           CAST(COALESCE(SUM(s_end - last_w * 512) FILTER (
                WHERE last_w > first_w AND s_end - last_w * 512 < 64),
                0) * 1000000 // SUM(nt) AS BIGINT) AS loss_ppm
    FROM sp GROUP BY source ORDER BY source
    """,
    doc="Doc-grain fragmentation audit of the overflow-split packing "
        "(★token_window_packing is the window grain): per source, how "
        "many docs stay intact / split in 2 / split in 3+, and the "
        "tail-salvage rule every production packer applies — a split "
        "doc's final fragment shorter than 64 tokens is dropped rather "
        "than trained on (too little context to predict from); emits "
        "the dropped-fragment count and the integer-ppm token loss. "
        "The fragment length is closed-form from the span (s_end - "
        "last_w*512), so no per-fragment explode happens — the audit "
        "is one window pass + one aggregate, same cost shape as the "
        "packing itself. Non-vacuousness, measured: n_2frag and "
        "n_tail_lt64 are positive at every SF; n_3plus_frag is "
        "STRUCTURALLY zero on this corpus (docs are 10-99 tokens, and "
        "only a doc longer than a full 512 window can cross two "
        "boundaries) — the column pins the zero regime and lights up "
        "on real long-doc corpora. Scale: identical to "
        "token_window_packing (shuffle on source; (source, shard) + "
        "prefix-merge at 100 TB).",
)
def q_pack_fragmentation_report(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    sp = _spans(spark, sf_dir)
    split = F.col("last_w") > F.col("first_w")
    tail = F.col("s_end") - F.col("last_w") * 512
    lost = F.when(split & (tail < 64), tail).otherwise(F.lit(0))
    return (
        sp.groupBy("source")
        .agg(
            F.count_if(F.col("last_w") == F.col("first_w")).cast("long")
            .alias("n_intact"),
            F.count_if(F.col("last_w") == F.col("first_w") + 1)
            .cast("long").alias("n_2frag"),
            F.count_if(F.col("last_w") > F.col("first_w") + 1)
            .cast("long").alias("n_3plus_frag"),
            F.count_if(split & (tail < 64)).cast("long")
            .alias("n_tail_lt64"),
            F.sum(lost).cast("long").alias("salvage_tokens_lost"),
            F.sum(lost).alias("_lost_raw"),
            F.sum("nt").alias("_nt_raw"),
        )
        .select(
            "source", "n_intact", "n_2frag", "n_3plus_frag",
            "n_tail_lt64", "salvage_tokens_lost",
            F.expr("_lost_raw * 1000000 div _nt_raw").cast("long")
            .alias("loss_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# 3. deterministic seeded epoch shuffle
# ---------------------------------------------------------------------------

@register(
    "seeded_epoch_shuffle",
    oracle="""
    WITH ep AS (
      SELECT unnest(range(3)) AS epoch
    ), keyed AS (
      SELECT ep.epoch, d.doc_id,
             ('0x' || substr(md5(ep.epoch::VARCHAR || ':' ||
                             d.doc_id::VARCHAR), 1, 15))::BIGINT AS k
      FROM documents d CROSS JOIN ep
    ), ranked AS (
      SELECT epoch, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch ORDER BY k, doc_id) AS BIGINT) AS rn
      FROM keyed
    )
    SELECT epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(doc_id::VARCHAR, '|' ORDER BY rn)
             FILTER (WHERE rn <= 8) AS head8,
           CAST(SUM(rn * ((doc_id % 97) + 1)) AS BIGINT)
             AS perm_checksum
    FROM ranked GROUP BY epoch ORDER BY epoch
    """,
    doc="Deterministic seeded epoch shuffle — the distributed analogue "
        "of the reference's seeded sampling (Python/gan.ipynb raw "
        "122-143 draws a stratified subset with np.random.choice; a "
        "100 TB loader instead needs a different, REPRODUCIBLE "
        "permutation per epoch with no RNG stream to replay): order by "
        "the 60-bit md5-fold of 'epoch:doc_id' (the one hash both "
        "engines replay bit-equally), tie-broken by doc_id. Emits per "
        "epoch the first-8 prefix (the spot check a loader logs) and a "
        "rank-weighted checksum pinning the ENTIRE permutation, not "
        "just its head. Partition-stable by construction: the key is a "
        "pure row function, so any layout yields the same order (the "
        "shuffle3 perturbation re-checks exactly this). Scale: the "
        "global row_number here is the audit instrument; the loader "
        "itself never ranks — it range-partitions by the salted key "
        "(sort-free total order), so the 100 TB path is one exchange, "
        "no global sort.",
)
def q_seeded_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select("doc_id").crossJoin(
        F.broadcast(
            spark.range(3).select(F.col("id").cast("long").alias("epoch"))
        )
    ).select(
        "epoch", "doc_id",
        F.expr("conv(substr(md5(concat(cast(epoch AS string), ':', "
               "cast(doc_id AS string))), 1, 15), 16, 10)").cast("long")
        .alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    ranked = keyed.select(
        "epoch", "doc_id",
        F.row_number().over(w).cast("long").alias("rn"),
    )
    return (
        ranked.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(
                "concat_ws('|', transform(array_sort(collect_list("
                "CASE WHEN rn <= 8 THEN struct(rn, doc_id) END)), "
                "s -> cast(s.doc_id AS string)))"
            ).alias("head8"),
            F.sum(F.col("rn") * ((F.col("doc_id") % 97) + 1))
            .cast("long").alias("perm_checksum"),
        )
        .orderBy("epoch")
    )


# ---------------------------------------------------------------------------
# 4. epoch domain-mix schedule (rotating modular quotas, wraparound)
# ---------------------------------------------------------------------------

@register(
    "epoch_domain_mix_schedule",
    oracle=_SCHED_CTE + """
    , firsts AS (
      SELECT doc_id, source, MIN(epoch) AS first_epoch
      FROM taken GROUP BY doc_id, source
    ), per AS (
      SELECT t.epoch, t.source,
             CAST(COUNT(*) AS BIGINT) AS n_taken,
             CAST(SUM(t.doc_id) AS BIGINT) AS pick_checksum,
             CAST(COUNT(*) FILTER (WHERE f.first_epoch = t.epoch)
                  AS BIGINT) AS n_first_time,
             ANY_VALUE(t.n) AS n
      FROM taken t
      JOIN firsts f ON f.doc_id = t.doc_id AND f.source = t.source
      GROUP BY t.epoch, t.source
    )
    SELECT epoch, source, n_taken, pick_checksum, n_first_time,
           CAST(SUM(n_first_time) OVER (
             PARTITION BY source ORDER BY epoch
             ROWS UNBOUNDED PRECEDING) * 1000000 // n AS BIGINT)
             AS coverage_ppm_cum
    FROM per ORDER BY epoch, source
    """,
    doc="Per-source quotas scheduled ACROSS epochs — ★domain_mix_weighted "
        "(one-shot k-per-source sample) extended over epoch boundaries "
        "(r12 verdict ask #4): docs rank deterministically within source "
        "(Lehmer order), epoch e takes the q contiguous ranks starting "
        "at (e*q mod n) with WRAPAROUND — small sources recycle "
        "(oversampling, the UniMax behavior) while large sources keep "
        "serving fresh docs; q is 12 for low-numbered sources, 6 "
        "otherwise (both < the 25-doc minimum source size, so an epoch "
        "never repeats a doc WITHIN itself). Emits per (epoch, source) "
        "the take count, a doc_id checksum pinning the exact pick set, "
        "the first-time count, and cumulative distinct-coverage ppm — "
        "the curve a mix scheduler watches to know when a source is "
        "exhausted (hits 1e6 at sf0.001/0.01 where 4x12 > 25, stays "
        "below at sf0.1 where 48 < 250 — the wraparound is exercised "
        "and the no-wrap regime is too). The modular membership test "
        "((rk - e*q) mod n) < q is a pure row predicate: no per-epoch "
        "join, just a 4-row broadcast cross join. Scale: one shuffle "
        "keyed by source for the rank; everything after is map-side + "
        "a window over the 80-row aggregate.",
)
def q_epoch_domain_mix_schedule(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    taken = _schedule_taken(spark, sf_dir)
    wf = Window.partitionBy("doc_id", "source")
    flagged = taken.withColumn("first_epoch", F.min("epoch").over(wf))
    per = flagged.groupBy("epoch", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_taken"),
        F.sum("doc_id").cast("long").alias("pick_checksum"),
        F.count_if(F.col("first_epoch") == F.col("epoch")).cast("long")
        .alias("n_first_time"),
        F.any_value(F.col("n")).alias("n"),
    )
    wc = (
        Window.partitionBy("source").orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "epoch", "source", "n_taken", "pick_checksum", "n_first_time",
        F.expr("sum(n_first_time) OVER (PARTITION BY source ORDER BY "
               "epoch ROWS UNBOUNDED PRECEDING) * 1000000 div n")
        .cast("long").alias("coverage_ppm_cum"),
    ).orderBy("epoch", "source")


# ---------------------------------------------------------------------------
# 5. repack delta after the quality filter (curation → packing composition)
# ---------------------------------------------------------------------------

@register(
    "repack_delta_audit",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(trim(text),
                  '\s+'), x -> x != '')) AS BIGINT) AS nt
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_all,
           CAST(COUNT(*) FILTER (WHERE nt >= 20) AS BIGINT)
             AS n_docs_kept,
           CAST(SUM(nt) AS BIGINT) AS tokens_all,
           CAST(COALESCE(SUM(nt) FILTER (WHERE nt >= 20), 0) AS BIGINT)
             AS tokens_kept,
           CAST((SUM(nt) + 511) // 512 AS BIGINT) AS windows_all,
           CAST((COALESCE(SUM(nt) FILTER (WHERE nt >= 20), 0) + 511)
                // 512 AS BIGINT) AS windows_kept,
           CAST((SUM(nt) - COALESCE(SUM(nt) FILTER (WHERE nt >= 20), 0))
                * 1000000 // SUM(nt) AS BIGINT) AS token_drop_ppm
    FROM toks GROUP BY source ORDER BY source
    """,
    doc="Curation→packing composition: how many 512-token training "
        "windows does the min-words quality rule (Gopher floor, >= 20 "
        "tokens — the first kill in ★quality_filter_funnel) actually "
        "buy back per source? Window counts are closed-form under "
        "overflow-split packing (ceil(tokens/512) — splitting leaves "
        "no padding), so the before/after comparison needs only "
        "conditional token sums: zero window functions, ONE map-side "
        "combinable aggregate over the scan — the cheapest possible "
        "plan shape, and the number a pipeline owner quotes when "
        "pricing a filter ('drops 3.1% of tokens, saves 3.1% of "
        "windows'). Scale: pure scan + groupBy(source); column "
        "pruning reaches the parquet scan (text + source only).",
)
def q_repack_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", _n_tokens().alias("nt"))
    kept = F.when(F.col("nt") >= 20, F.col("nt")).otherwise(F.lit(0))
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_all"),
            F.count_if(F.col("nt") >= 20).cast("long")
            .alias("n_docs_kept"),
            F.sum("nt").cast("long").alias("tokens_all"),
            F.sum(kept).cast("long").alias("tokens_kept"),
            ((F.sum("nt") + 511) / 512).cast("long").alias("windows_all"),
            ((F.sum(kept) + 511) / 512).cast("long")
            .alias("windows_kept"),
            F.sum("nt").alias("_all_raw"),
            F.sum(kept).alias("_kept_raw"),
        )
        .select(
            "source", "n_docs_all", "n_docs_kept", "tokens_all",
            "tokens_kept", "windows_all", "windows_kept",
            F.expr("(_all_raw - _kept_raw) * 1000000 div _all_raw")
            .cast("long").alias("token_drop_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# 6. realized-vs-target mix drift per epoch
# ---------------------------------------------------------------------------

@register(
    "mix_schedule_drift_audit",
    oracle=_SCHED_CTE + """
    , etot AS (
      SELECT epoch, source,
             CAST(SUM(nt) AS BIGINT) AS tok,
             ANY_VALUE(q) AS q
      FROM taken GROUP BY epoch, source
    ), shares AS (
      SELECT epoch, source, tok, q,
             CAST(SUM(tok) OVER (PARTITION BY epoch) AS BIGINT)
               AS tok_epoch,
             CAST(SUM(q) OVER (PARTITION BY epoch) AS BIGINT) AS q_sum
      FROM etot
    )
    SELECT epoch, source,
           CAST(tok * 1000000 // tok_epoch AS BIGINT) AS actual_ppm,
           CAST(q * 1000000 // q_sum AS BIGINT) AS target_ppm,
           CAST(tok * 1000000 // tok_epoch AS BIGINT)
             - CAST(q * 1000000 // q_sum AS BIGINT) AS drift_ppm
    FROM shares ORDER BY epoch, source
    """,
    doc="Realized-vs-target token-mix drift under the epoch schedule "
        "(★epoch_domain_mix_schedule plans the PICKS; this audits what "
        "the picks WEIGH): the quota ratio is the doc-count target "
        "(q_s / sum(q)), but sources differ in doc length, so the "
        "realized token share drifts — the monitoring signal a mix "
        "controller (DoReMi-style reweighting) feeds back on. Integer "
        "ppm both sides (token sums are exact int64; div truncates "
        "identically). Distinct from ★temperature_mixture_weights "
        "(static tau-scaled WEIGHTS from corpus counts; no schedule, "
        "no epochs, no realized mass). Scale: the schedule predicate "
        "is map-side after one rank shuffle on source; the groupBy "
        "lands on an 80-row relation and the share windows run there.",
)
def q_mix_schedule_drift_audit(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    taken = _schedule_taken(spark, sf_dir)
    etot = taken.groupBy("epoch", "source").agg(
        F.sum("nt").cast("long").alias("tok"),
        F.any_value(F.col("q")).alias("q"),
    )
    we = Window.partitionBy("epoch")
    shares = etot.select(
        "epoch", "source", "tok", "q",
        F.sum("tok").over(we).cast("long").alias("tok_epoch"),
        F.sum("q").over(we).cast("long").alias("q_sum"),
    )
    return shares.select(
        "epoch", "source",
        F.expr("tok * 1000000 div tok_epoch").cast("long")
        .alias("actual_ppm"),
        F.expr("q * 1000000 div q_sum").cast("long").alias("target_ppm"),
        (F.expr("tok * 1000000 div tok_epoch").cast("long")
         - F.expr("q * 1000000 div q_sum").cast("long"))
        .alias("drift_ppm"),
    ).orderBy("epoch", "source")
