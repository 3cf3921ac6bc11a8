"""Round-13 second wave: embedding-pipeline and training-data accounting
queries.

Wave focus: the two embedding-pipeline gaps left after the r15
quantization audits, plus the two training-data accounting ops the
packing wave (queries_r16) stops short of:

- ``binary_sign_quant_audit`` — per-DIMENSION health audit of 1-bit
  (sign) embedding quantization: positive/zero/negative counts and the
  positive-rate per dimension. Sign-bit quantization is the 32x
  memory path for 100 TB ANN (1 bit/dim vs float32); a dimension whose
  sign is constant across the corpus carries zero bits of Hamming
  information, which is exactly what this table surfaces.
- ``hamming_rerank_recall`` — retrieval-quality check for that code:
  recall@10 of sign-bit Hamming top-k against the exact fixed-point
  cosine top-k, both deterministic integer math, per query.
- ``context_truncation_waste`` — truncate-at-512 token-loss + padding
  accounting per source: the cost of the NAIVE policy that
  ``token_window_packing``'s overflow-split packing eliminates. Pure
  map-side scan battery.
- ``dataloader_rank_manifest`` — the dataloader last mile: assign the
  packed 512-token windows to (rank, worker) shards by global window
  index round-robin and audit the per-shard token balance.

Name sweep (done BEFORE drafting, the r12 lesson): the adjacent live
queries are ``int8_quantization_error`` / ``embedding_int8_quant_audit``
(8-bit affine quantization error, no bit packing),
``matryoshka_truncation_audit`` (dimension-prefix truncation),
``lsh_fixed_topk`` (sign bits of random-hyperplane PROJECTIONS used for
candidate bucketing, not a stored 1-bit code over raw dimensions),
``recall_pq_vs_exact`` (PQ codebook recall), ``bbit_minhash_estimate``
(set similarity, not vectors), ``shard_balance_audit`` (writer output
file shards, not dataloader rank/worker assignment),
``length_bucket_batches`` / ``token_window_packing`` (packing itself,
not the truncation counterfactual or the shard manifest). Each query
below states its contrast in the docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _t, register

_FX = 1 << 20          # fixed-point scale, the similarity-family house value
_NQ = 8                # hamming_rerank_recall query set = vec_id < 8
_K = 10                # recall@10


# ---------------------------------------------------------------------------
# 1. per-dimension sign-bit quantization health audit
# ---------------------------------------------------------------------------

@register(
    "binary_sign_quant_audit",
    oracle="""
    SELECT CAST(t.d AS BIGINT) AS d,
           CAST(COUNT(*) FILTER (
             WHERE CAST(embedding AS DOUBLE[])[t.d + 1] > 0) AS BIGINT)
             AS n_pos,
           CAST(COUNT(*) FILTER (
             WHERE CAST(embedding AS DOUBLE[])[t.d + 1] = 0) AS BIGINT)
             AS n_zero,
           CAST(COUNT(*) FILTER (
             WHERE CAST(embedding AS DOUBLE[])[t.d + 1] < 0) AS BIGINT)
             AS n_neg,
           CAST(COUNT(*) FILTER (
             WHERE CAST(embedding AS DOUBLE[])[t.d + 1] > 0)
             * 1000000 // COUNT(*) AS BIGINT) AS pos_ppm
    FROM embeddings, range(64) t(d)
    GROUP BY t.d ORDER BY d
    """,
    doc="Per-dimension health audit of 1-bit (sign) embedding "
        "quantization — the 32x-memory storage code for 100 TB ANN "
        "(1 bit/dim vs float32; Hamming distance approximates angular "
        "distance). One row per dimension: how many corpus vectors are "
        "positive / exactly zero / negative there, and the positive "
        "rate in ppm. A dimension with pos_ppm near 0 or 1e6 is "
        "sign-constant and contributes ZERO bits of Hamming "
        "information — the signal a quantization rollout checks before "
        "committing the code (the 1-bit sibling of "
        "*embedding_int8_quant_audit*, which audits 8-bit affine "
        "reconstruction error; unlike *lsh_fixed_topk*'s sign bits, "
        "these are raw-dimension signs stored as the compressed "
        "representation itself, not random-projection bucket keys). "
        "The sign rule (x > 0; exact zeros counted separately, packed "
        "as 0-bits) is an exact float comparison, engine-invariant. "
        "Scale: posexplode + groupBy on a 64-value key — one map-side "
        "combinable exchange of 64 rows per task; the embedding column "
        "never shuffles.",
)
def q_binary_sign_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dv = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("d", "val")
    )
    return (
        dv.groupBy(F.col("d").cast("long").alias("d"))
        .agg(
            F.count_if(F.col("val") > 0).cast("long").alias("n_pos"),
            F.count_if(F.col("val") == 0).cast("long").alias("n_zero"),
            F.count_if(F.col("val") < 0).cast("long").alias("n_neg"),
            F.expr("count_if(val > 0) * 1000000 div count(*)")
            .cast("long").alias("pos_ppm"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# 2. sign-bit Hamming top-k recall vs exact fixed-point cosine top-k
# ---------------------------------------------------------------------------

# Shared derivation, term-identical in both engines:
#   xq_i = floor(x_i * 2^20)                 exact int64 per dimension
#   ss   = greatest(sum xq_i^2, 1)           exact int64 (order-free)
#   u_i  = floor(xq_i / sqrt(ss) * 2^20)     one correctly-rounded divide
#                                            + sqrt on EXACT ints, *2^20 is
#                                            a lossless power-of-two scale,
#                                            floor exact => engine-invariant
#   lo   = sum_{d<32}  (x_{d} > 0) << d      sign bits, dims 0..31
#   hi   = sum_{d>=32} (x_{d} > 0) << (d-32) sign bits, dims 32..63
# Hamming = bit_count(lo^lo') + bit_count(hi^hi'); exact cosine ranking =
# integer dot of the unit-normalized u vectors (norms equal => dot order
# is cosine order, ties broken by vec_id).

def _r17_sig_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    w1 = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("ev"),
        F.expr(
            f"transform(CAST(embedding AS ARRAY<DOUBLE>), "
            f"x -> CAST(floor(x * {_FX}.0) AS BIGINT))"
        ).alias("xq"),
    )
    w2 = w1.select(
        "vec_id", "ev", "xq",
        F.expr(
            "greatest(aggregate(transform(xq, v -> v * v), "
            "CAST(0 AS BIGINT), (a, x) -> a + x), CAST(1 AS BIGINT))"
        ).alias("ss"),
    )
    return w2.select(
        "vec_id",
        F.expr(
            "aggregate(transform(sequence(0, 31), d -> "
            "IF(element_at(ev, d + 1) > 0D, "
            "shiftleft(CAST(1 AS BIGINT), d), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("lo"),
        F.expr(
            "aggregate(transform(sequence(32, 63), d -> "
            "IF(element_at(ev, d + 1) > 0D, "
            "shiftleft(CAST(1 AS BIGINT), d - 32), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("hi"),
        F.expr(
            f"transform(xq, v -> CAST(floor(CAST(v AS DOUBLE) / "
            f"sqrt(CAST(ss AS DOUBLE)) * {_FX}.0) AS BIGINT))"
        ).alias("u"),
    )


_R17_SIG_CTE = f"""
    WITH w1 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * {_FX}.0) AS BIGINT)) AS xq
      FROM embeddings
    ), w2 AS (
      SELECT vec_id, ev, xq,
             greatest(CAST(list_sum(list_transform(xq, v -> v * v))
                      AS BIGINT), CAST(1 AS BIGINT)) AS ss
      FROM w1
    ), b AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(0, 32), d ->
               CASE WHEN ev[d + 1] > 0 THEN (CAST(1 AS BIGINT) << d)
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32, 64), d ->
               CASE WHEN ev[d + 1] > 0 THEN (CAST(1 AS BIGINT) << (d - 32))
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS hi,
             list_transform(xq, v -> CAST(floor(CAST(v AS DOUBLE) /
               sqrt(CAST(ss AS DOUBLE)) * {_FX}.0) AS BIGINT)) AS u
      FROM w2
    )
"""


@register(
    "hamming_rerank_recall",
    oracle=_R17_SIG_CTE + f"""
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)),
               c.vec_id) AS rn_h,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               CAST(list_sum(list_transform(range(1, 65),
                 i -> q.u[i] * c.u[i])) AS BIGINT) DESC,
               c.vec_id) AS rn_e
      FROM b q JOIN b c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_NQ}
    ), ov AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM scored WHERE rn_h <= {_K} AND rn_e <= {_K}
      GROUP BY query_id
    )
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(ov.c, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(ov.c, 0) * 1000000 // {_K} AS BIGINT)
             AS recall_ppm
    FROM (SELECT vec_id FROM embeddings WHERE vec_id < {_NQ}) q
    LEFT JOIN ov ON ov.query_id = q.vec_id
    ORDER BY query_id
    """,
    doc="Retrieval-quality check for the 1-bit sign code: recall@10 of "
        "Hamming top-k over the packed sign bits against the EXACT "
        "cosine top-k, per query (vec_id < 8), self excluded. Both "
        "sides are deterministic integer math — Hamming via "
        "bit_count(xor) on the two 32-bit sign words, the exact side "
        "an int64 dot of unit-normalized fixed-point vectors (one "
        "correctly-rounded divide+sqrt on exact ints per dimension, so "
        "the ranking is engine-invariant; equal norms make dot order "
        "cosine order) — hence the recall itself is exact and "
        "hash-graded, no tolerance bracket needed. The 1-bit sibling "
        "of *recall_pq_vs_exact* (PQ codebooks) and the evaluation "
        "companion of *binary_sign_quant_audit*; distinct from "
        "*lsh_fixed_topk*, which uses projection signs to BUCKET "
        "candidates rather than as the stored distance code. Scale: "
        "the 8-query set broadcasts, both distances ride ONE map-side "
        "pass over the corpus, the only exchange carries (query, "
        "candidate) score rows partitioned by query — in production "
        "the exact side is a sampled eval, the Hamming side is the "
        "serving path.",
)
def q_hamming_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _r17_sig_base(spark, sf_dir)
    q = base.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"), F.col("hi").alias("q_hi"),
        F.col("u").alias("q_u"),
    )
    pairs = base.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", "vec_id",
        F.expr("CAST(bit_count(q_lo ^ lo) + bit_count(q_hi ^ hi) "
               "AS BIGINT)").alias("hdist"),
        F.expr("aggregate(zip_with(q_u, u, (a, b) -> a * b), "
               "CAST(0 AS BIGINT), (a, x) -> a + x)").alias("dot"),
    )
    wh = Window.partitionBy("query_id").orderBy("hdist", "vec_id")
    we = Window.partitionBy("query_id").orderBy(F.desc("dot"), "vec_id")
    ranked = pairs.select(
        "query_id", "vec_id",
        F.row_number().over(wh).alias("rn_h"),
        F.row_number().over(we).alias("rn_e"),
    )
    ov = (
        ranked.filter((F.col("rn_h") <= _K) & (F.col("rn_e") <= _K))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    qids = base.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        qids.join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("long")
            .alias("n_overlap"),
            F.expr(f"coalesce(c, CAST(0 AS BIGINT)) * 1000000 div {_K}")
            .cast("long").alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# 3. truncate-at-512 waste accounting (the packing counterfactual)
# ---------------------------------------------------------------------------

_BUDGETS = (16, 32, 64, 128)


@register(
    "context_truncation_waste",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(trim(text),
                  '\\s+'), x -> x != '')) AS BIGINT) AS nt
      FROM documents
    ), bt AS (
      SELECT t.source, t.nt, b.budget
      FROM toks t CROSS JOIN (VALUES
        {", ".join(f"(CAST({b} AS BIGINT))" for b in _BUDGETS)}) b(budget)
    )
    SELECT budget, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE nt > budget) AS BIGINT)
             AS n_truncated,
           CAST(SUM(nt) AS BIGINT) AS tokens_total,
           CAST(SUM(greatest(nt - budget, 0)) AS BIGINT) AS tokens_lost,
           CAST(CASE WHEN SUM(nt) = 0 THEN 0
                ELSE SUM(greatest(nt - budget, 0)) * 1000000 // SUM(nt)
                END AS BIGINT) AS loss_ppm,
           CAST(SUM(budget - least(nt, budget)) AS BIGINT) AS pad_tokens,
           CAST(SUM(budget - least(nt, budget)) * 1000000
                // (COUNT(*) * budget) AS BIGINT) AS pad_ppm
    FROM bt GROUP BY budget, source ORDER BY budget, source
    """,
    doc=f"Token-loss + padding accounting for the NAIVE truncate-at-"
        f"budget one-doc-per-window policy, swept over context budgets "
        f"{_BUDGETS} per source: docs over budget lose their tail "
        f"(tokens_lost, loss_ppm of the corpus), docs under budget pad "
        f"their window (pad_tokens, pad_ppm of window capacity). The "
        f"sweep is the policy-selection curve a pipeline owner reads "
        f"before choosing truncate-vs-pack — the counterfactual that "
        f"justifies *token_window_packing*'s overflow-split streams "
        f"(zero loss, zero pad at ANY budget by construction). The "
        f"largest budget exceeds this corpus's max doc length, so its "
        f"zero loss row pins the no-truncation regime explicitly "
        f"(the n_3plus_frag precedent). *doc_length_histogram* bins "
        f"lengths but prices no budget; *length_bucket_batches* packs "
        f"without loss accounting. House tokenization, all columns "
        f"exact int64, div-by-zero guarded for a zero-token source "
        f"(ANSI-safe). Scale: pure map-side scan battery — the budget "
        f"sweep is a 4-row broadcast cross join AFTER tokenization "
        f"(nt computed once per doc, not per budget), one combinable "
        f"aggregate keyed by (budget, source), the text column never "
        f"shuffles.",
)
def q_context_truncation_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import n_tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", n_tokens_col().alias("nt"))
    budgets = spark.createDataFrame(
        [(int(b),) for b in _BUDGETS], "budget long"
    )
    bt = toks.crossJoin(F.broadcast(budgets))
    return (
        bt.groupBy("budget", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_if(F.col("nt") > F.col("budget")).cast("long")
            .alias("n_truncated"),
            F.sum("nt").cast("long").alias("tokens_total"),
            F.sum(F.greatest(F.col("nt") - F.col("budget"), F.lit(0)))
            .cast("long").alias("tokens_lost"),
            F.expr(
                "CASE WHEN sum(nt) = 0 THEN 0 ELSE "
                "sum(greatest(nt - budget, CAST(0 AS BIGINT))) * 1000000 "
                "div sum(nt) END"
            ).cast("long").alias("loss_ppm"),
            F.sum(F.col("budget") - F.least(F.col("nt"), F.col("budget")))
            .cast("long").alias("pad_tokens"),
            F.expr(
                "sum(budget - least(nt, budget)) * 1000000 "
                "div (count(*) * first(budget))"
            ).cast("long").alias("pad_ppm"),
        )
        .orderBy("budget", "source")
    )


# ---------------------------------------------------------------------------
# 4. dataloader rank/worker shard manifest over the packed windows
# ---------------------------------------------------------------------------

_RANKS = 4
_WORKERS = 2


@register(
    "dataloader_rank_manifest",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(trim(text),
                  '\\s+'), x -> x != '')) AS BIGINT) AS nt
      FROM documents
    ), agg AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS total,
             CAST((SUM(nt) + 511) // 512 AS BIGINT) AS nw
      FROM toks GROUP BY source
    ), off AS (
      SELECT source, total, nw,
             CAST(SUM(nw) OVER (ORDER BY source
               ROWS UNBOUNDED PRECEDING) - nw AS BIGINT) AS off0
      FROM agg
    ), win AS (
      SELECT off0, nw, total, unnest(range(nw)) AS w FROM off
    ), wt AS (
      SELECT off0 + w AS gidx,
             CASE WHEN w = nw - 1 THEN total - (nw - 1) * 512
                  ELSE CAST(512 AS BIGINT) END AS wtok
      FROM win
    ), sh AS (
      SELECT gidx % {_RANKS} AS dl_rank,
             (gidx // {_RANKS}) % {_WORKERS} AS dl_worker, wtok
      FROM wt
    ), tot AS (SELECT CAST(SUM(wtok) AS BIGINT) AS t FROM sh)
    SELECT CAST(dl_rank AS BIGINT) AS dl_rank,
           CAST(dl_worker AS BIGINT) AS dl_worker,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(wtok) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE wtok < 512) AS BIGINT)
             AS n_tail_windows,
           CAST(CASE WHEN tot.t = 0 THEN 0
                ELSE SUM(wtok) * 1000000 // tot.t END AS BIGINT)
             AS token_share_ppm
    FROM sh, tot GROUP BY dl_rank, dl_worker, tot.t
    ORDER BY dl_rank, dl_worker
    """,
    doc=f"The dataloader last mile: assign every packed 512-token window "
        f"(the *token_window_packing* streams) to a ({_RANKS} ranks x "
        f"{_WORKERS} workers) shard grid by GLOBAL window index "
        f"round-robin — rank = g % {_RANKS}, worker = (g div {_RANKS}) "
        f"% {_WORKERS} — and audit the per-shard balance: window count, "
        f"token count, tail-window count, token share in ppm (target "
        f"{1000000 // (_RANKS * _WORKERS)}). The global index is the "
        f"per-source window ordinal plus an exclusive prefix offset "
        f"over the per-source window counts — the same two-level "
        f"prefix-merge shape as operators/packing.token_spans, so no "
        f"global sort ever happens: the offset table is a "
        f"metadata-scale window over one row per source. Round-robin "
        f"on the PER-SOURCE ordinal alone would send every source's "
        f"window 0 to rank 0 — the bias this audit exists to catch "
        f"(distinct from *shard_balance_audit*, which balances writer "
        f"output files, and from *stratified_kfold_assignment*, which "
        f"assigns DOCS to folds; here the unit is the packed window "
        f"and the grid is the training topology). All int64; windows "
        f"per source = ceil(tokens/512) with the tail window carrying "
        f"the remainder. Scale: the explode is linear in windows "
        f"(tokens/512), the audit aggregate is {_RANKS * _WORKERS} "
        f"rows, and the only non-map step is the metadata-scale "
        f"offset window.",
)
def q_dataloader_rank_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pipeline IS operators/packing.rank_manifest — one
    # implementation for the registered query and the stress harness
    from .operators.packing import rank_manifest

    return rank_manifest(
        _t(spark, sf_dir, "documents"),
        budget=512, ranks=_RANKS, workers=_WORKERS,
    )
