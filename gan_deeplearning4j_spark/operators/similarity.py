"""Similarity search over embedding columns (north-star scope).

Brute-force cosine top-k as the exact baseline; LSH-bucketed (random
hyperplane) and IVF (centroid-probe) variants as the scale paths.

Scale design (100 TB / billions of vectors):
- Brute force: query side broadcast (queries ≪ corpus), corpus scanned once,
  per-group top-k heap via row_number — no global sort, no collect.
- Hyperplane LSH: signature is a 32-bit sign pattern; corpus bucketed by
  signature prefix, queries probe their own bucket (+ optional multi-probe) —
  turns O(N·Q) into O(bucket·Q).
- IVF: coarse centroids (deterministically sampled), corpus partitioned by
  nearest centroid; query probes nprobe nearest lists. Centroid table is
  broadcast; assignment is a map-side argmin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine_similarity, dot
from ..kernels import list_to_matrix
from .relational import assert_small


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, k: int = 10, round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × scan corpus → per-query heap."""
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    q = queries.select(F.col(query_id), as_double(F.col(vec_col)).alias("__qv"))
    sim = cosine_similarity(F.col("__cv"), F.col("__qv"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id, id_col, sim.alias("cos_sim")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def plane_values(dim: int, bits: int) -> list[list[float]]:
    """The deterministic bits×dim hyperplane matrix as plain Python floats
    (weights derived from hash((bit, component)) — stable across runs: int
    and int-tuple hashes are unsalted). Exposed so oracle SQL can inline the
    exact same doubles as literals."""
    return [
        [(hash((b, i)) % 2000) / 1000.0 - 1.0 for i in range(dim)]
        for b in range(bits)
    ]


def _planes_lit(dim: int, bits: int) -> Column:
    """bits×dim hyperplane matrix as a foldable literal (no RNG state to
    ship). Constant folding collapses it to one array literal, so the plan
    carries data, not a dim×bits expression tree."""
    return F.array(*[
        F.array(*[F.lit(v) for v in row]) for row in plane_values(dim, bits)
    ])


def hyperplane_bits(vec: Column, dim: int, bits: int = 16) -> Column:
    """Array of sign bits (0/1) against `bits` deterministic pseudo-random
    hyperplanes, as zip_with dot products against the literal plane matrix.

    (The unrolled element_at(vec,i)*w_bi sum — dim×bits AST nodes — blows
    past janino's 64 KB method limit at dim 64 and forces interpreted
    evaluation; this form stays a tiny loop inside codegen. `vec` should be
    a plain column reference: higher-order lambdas re-evaluate computed
    subexpressions per element.)"""
    planes = _planes_lit(dim, bits)
    return F.transform(
        planes,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec, p, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def hyperplane_dots(vec: Column, dim: int, bits: int = 16) -> Column:
    """Array of signed distances (sequential-fold dot products) against the
    literal plane matrix — the bit is the sign, |value| is the margin used
    for multi-probe ordering."""
    planes = _planes_lit(dim, bits)
    return F.transform(
        planes,
        lambda p: F.aggregate(
            F.zip_with(vec, p, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _pack_sign_bits(dots: Column) -> Column:
    """dots → packed sign-bit signature (plane 0 is the MSB)."""
    return F.aggregate(
        F.transform(dots, lambda d: F.when(d >= 0, F.lit(1)).otherwise(F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )


def hyperplane_signature(vec: Column, dim: int, bits: int = 16) -> Column:
    """Sign pattern packed into one long (the bucketing key form of
    ``hyperplane_bits``)."""
    return F.aggregate(
        hyperplane_bits(vec, dim, bits),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )


def hyperplane_bits_udf(dim: int, bits: int = 16):
    """Vectorized (Arrow-batch BLAS matmul) form of ``hyperplane_bits`` —
    bit-equal to the SQL form on real data (pinned by test): both compute
    sign(vec · plane) against the same literal matrix; double summation
    order differs, but a sign flip needs |dot| at round-off scale (~1e-13 of
    the term magnitudes), far below the dot-product spread of any non-
    degenerate corpus.

    Why it exists: the fold form costs bits×dim interpreted lambda evals per
    row (higher-order functions are CodegenFallback) — the scan-side
    signature was the top cost of every LSH query profile. The matmul is a
    single dgemm per Arrow batch."""
    import numpy as np

    planes_t = np.array(plane_values(dim, bits), dtype=np.float64).T

    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(list((mat @ planes_t >= 0).astype(np.int32)))

    return F.pandas_udf(sig, "array<int>")


def hyperplane_band_vals_udf(dim: int, bands: int, rows_per_band: int):
    """``hyperplane_bits_udf`` with the band packing fused into the same
    Arrow pass: returns the ``bands`` packed integers directly (bit b of a
    band is weighted 2^(rows_per_band-1-b) — exactly the ``acc*2 + x``
    fold the JVM form computed). The separate fold was ``bands x
    rows_per_band`` interpreted lambda evaluations per row (higher-order
    functions are CodegenFallback); here it is one reshape+matvec per
    Arrow batch, and only ``bands`` ints per row reach the JVM instead of
    the full bit array (r13 optimization pass, guide §4.2 — measured
    0.88 -> 0.78 s for the banded-LSH pipeline at sf0.1)."""
    import numpy as np

    bits = bands * rows_per_band
    planes_t = np.array(plane_values(dim, bits), dtype=np.float64).T
    weights = (1 << np.arange(rows_per_band - 1, -1, -1)).astype(np.int64)

    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.float64)
        b = (mat @ planes_t >= 0).astype(np.int64).reshape(
            len(mat), bands, rows_per_band
        )
        return pd.Series(list((b @ weights).astype(np.int32)))

    return F.pandas_udf(sig, "array<int>")


def lsh_bucketed_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 10, bits: int = 12,
    probes: int | None = None,
) -> DataFrame:
    """Approximate top-k: only compare vectors sharing a hyperplane-sign
    bucket, with multi-probe (Lv et al., VLDB'07): each query also probes
    the buckets reached by flipping sign bits, nearest-hyperplane (smallest
    |dot|) first — the buckets a true neighbor most likely fell into.

    ``probes`` is the recall knob: the number of extra buckets probed per
    query beyond the home bucket. ``probes <= bits`` takes the best
    1-bit flips (smallest margin first); ``probes > bits`` continues into
    the 2-bit perturbation sets, ordered by margin SUM (the Lv et al.
    probing sequence truncated at pair depth — covers every perturbation
    the planted-neighbor recall tests need without the full heap walk).
    None probes every 1-bit flip (bits extra buckets). Without
    multi-probe, recall collapses for vectors near any hyperplane boundary.
    Probing is on the broadcast query side: at most
    1 + bits + C(bits,2) bucket keys per query, corpus untouched — at
    scale the corpus shuffle stays one sig-keyed exchange no matter how
    many probes."""
    if probes is None:
        probes = bits
    max_probes = bits + (bits * (bits - 1)) // 2
    if probes > max_probes:
        raise ValueError(
            f"lsh_bucketed_topk: probes={probes} exceeds the 1-bit + 2-bit "
            f"perturbation space ({max_probes} for bits={bits})"
        )
    c = corpus.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__sig", hyperplane_signature(F.col("__cv"), dim, bits))
    q = (
        queries.select(F.col(query_id), as_double(F.col(vec_col)).alias("__qv"))
        .withColumn("__dots", hyperplane_dots(F.col("__qv"), dim, bits))
        .withColumn("__sig", _pack_sign_bits(F.col("__dots")))
    )
    if probes > 0:
        # (margin, flipped-sig) per plane; flipping bit j toggles 2^(bits-1-j)
        flips = F.zip_with(
            F.col("__dots"),
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda d, j: F.struct(
                F.abs(d).alias("m"),
                F.col("__sig").bitwiseXOR(
                    F.pow(F.lit(2.0), (F.lit(bits - 1) - j)).cast("long")
                ).alias("s"),
            ),
        )
        one_bit = F.transform(
            F.slice(F.array_sort(flips), 1, min(probes, bits)),
            lambda s: s["s"],
        )
        probe_sigs = F.concat(F.array(F.col("__sig")), one_bit)
        if probes > bits:
            # 2-bit perturbation sets: struct(m_i + m_j, sig ^ f_i ^ f_j)
            # for every plane pair, sorted by margin sum (sig as the
            # deterministic tie-break — array_sort on structs is
            # field-lexicographic, matching the oracle's ORDER BY m, s)
            pair_structs = [
                F.struct(
                    (F.abs(F.element_at("__dots", i + 1))
                     + F.abs(F.element_at("__dots", j + 1))).alias("m"),
                    F.col("__sig")
                    .bitwiseXOR(F.lit(1 << (bits - 1 - i)).cast("long"))
                    .bitwiseXOR(F.lit(1 << (bits - 1 - j)).cast("long"))
                    .alias("s"),
                )
                for i in range(bits) for j in range(i + 1, bits)
            ]
            two_bit = F.transform(
                F.slice(F.array_sort(F.array(*pair_structs)), 1,
                        probes - bits),
                lambda s: s["s"],
            )
            probe_sigs = F.concat(probe_sigs, two_bit)
        qx = q.select(
            query_id, "__qv", F.explode(probe_sigs).alias("__sig")
        )
    else:
        qx = q.select(query_id, "__qv", "__sig")
    joined = c.join(F.broadcast(qx), "__sig")
    scored = joined.select(
        query_id, id_col,
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embedding_neardup(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.4,
    round_to: int = 6, max_rows: int = 25_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact form: every (id_a < id_b)
    pair with round(cosine, round_to) >= threshold.

    This is the oracle baseline (quadratic — DuckDB-checkable at small sf).
    ``max_rows`` hard-gates it: the BroadcastNestedLoopJoin below must never
    run on a production corpus. The scale path is ``embedding_neardup_lsh``:
    same output contract, but candidates come from banded hyperplane-LSH
    buckets so the pair join is bucket-local instead of all-pairs.
    """
    assert_small(df, max_rows, "embedding_neardup")
    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    a = v.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    sim = F.round(cosine_similarity(F.col("__va"), F.col("__vb")), round_to)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_lsh(
    df: DataFrame, vec_col: str, id_col: str, dim: int,
    threshold: float = 0.4, bands: int = 4, rows_per_band: int = 4,
    round_to: int = 6, max_bucket: int = 10_000,
) -> DataFrame:
    """Banded hyperplane-LSH near-dup: vectors sharing ANY band of sign bits
    become candidates; candidates get the exact cosine verify.

    Same output contract as ``embedding_neardup`` (recall < 1 by design —
    banding sets the recall/cost point: P(candidate) = 1-(1-p^r)^b where
    p = 1 - angle/pi). Scale shape mirrors MinHash LSH: one shuffle keyed on
    (band_id, band_val) — never an all-pairs product; ``max_bucket`` caps
    degenerate buckets (e.g. all-zero vectors).

    The verify is bucket-local: buckets are assembled JVM-side in ONE
    band-keyed exchange — a count window over (band_id, band_val) drops
    singleton and over-``max_bucket`` rows FIRST, then ``collect_list``
    of (id, vector) structs over the same partitioning (no second
    exchange: the aggregate reuses the window's clustering) builds only
    the surviving buckets, and one ``mapInArrow`` pass scores them —
    one numpy matmul per bucket, one Arrow crossing per batch of
    buckets (r13/r14 optimization passes, guide §4/§5). The previous
    ``applyInPandas`` form dispatched a pandas kernel per GROUP (~8k
    dispatches to discard ~7k singletons at sf0.1; 1.6 -> 0.9 s fixed
    in r13); the r13 ``collect_list``-then-filter form materialized a
    degenerate hot bucket (e.g. a corpus slab of zero vectors) in full
    inside ONE un-spillable aggregation buffer before the size filter
    could drop it (the r13 verdict's residual §5 exposure). The window
    operator buffers its partition in a spillable row array instead,
    so executor memory is now bounded by ``max_bucket``·dim doubles
    (~5 MB at the defaults) REGARDLESS of bucket skew — and the form
    measured FASTER at bench scale (0.55 -> 0.45 s for the bucket
    pipeline: singleton rows die before any list buffer exists, and
    the map-side partial collect_list, pure overhead on almost-unique
    band keys, is gone). A pair found by several bands scores
    bit-identically in each (same subset math), and the
    groupBy(id_a, id_b) min collapses it to one row either way."""
    import numpy as np

    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    # NOT persisted: exactly one plan branch consumes the signatures, so the
    # UDF runs once per partition in the single pass regardless — a persist
    # here leaked cache entries across calls on a shared session (Spark's
    # CacheManager holds DataFrame caches until an explicit unpersist).
    # Band packing happens INSIDE the Arrow pass (hyperplane_band_vals_udf):
    # the former JVM-side acc*2+x fold over the bit array was bands x
    # rows_per_band interpreted lambda evals per row.
    sig = v.withColumn(
        "__bv", hyperplane_band_vals_udf(dim, bands, rows_per_band)(F.col("__v"))
    )
    banded = sig.select(
        F.col(id_col).alias("__id"), "__v",
        F.posexplode("__bv").alias("band_id", "band_val"),
    )
    wb = Window.partitionBy("band_id", "band_val")
    buckets = (
        banded.withColumn("__n", F.count("*").over(wb))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket))
        .groupBy("band_id", "band_val")
        .agg(F.collect_list(F.struct("__id", "__v")).alias("items"))
        .select("items")
    )

    def score_buckets(batches):
        # Arrow-native scorer (r14 second pass, guide §4.2): the former
        # mapInPandas form materialized every (id, vector) struct as a
        # Python object per ROW before the per-bucket matmul — O(corpus
        # x bands) object churn at scale. Here the batch's buckets are
        # flattened once into contiguous buffers (ids int64, vectors one
        # (n, dim) float64 view) and each bucket scores on numpy SLICES
        # of those buffers; the only Python loop is per BUCKET, and the
        # math (argsort, einsum norms, matmul, round) is bit-identical
        # to the former form — the full pairs relation exceptAll-matched
        # in both directions at sf0.1 (12-15% faster there; the win is
        # the per-row boundary, so it grows with the corpus).
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            items = batch.column(0)
            sizes = pc.list_value_length(items).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            structs = pc.list_flatten(items)
            ids_all = structs.field("__id").to_numpy(zero_copy_only=False)
            if len(ids_all) == 0:
                continue
            # fixed-dim contract (the signature matmul upstream already
            # requires it): a ragged or null vector raises, never scores
            allmat = list_to_matrix(structs.field("__v"))
            bounds = np.zeros(len(sizes) + 1, dtype=np.int64)
            np.cumsum(sizes, out=bounds[1:])
            out_a, out_b, out_s = [], [], []
            for i in range(len(sizes)):
                lo, hi = bounds[i], bounds[i + 1]
                ids = ids_all[lo:hi]
                mat = allmat[lo:hi]
                # sort ids so pair orientation is deterministic regardless
                # of Arrow batch order; non-finite similarities (zero
                # vectors) are dropped, matching the SQL verify
                order = np.argsort(ids, kind="stable")
                ids, mat = ids[order], mat[order]
                norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.round(
                        (mat @ mat.T) / np.outer(norms, norms), round_to
                    )
                iu, ju = np.triu_indices(len(ids), k=1)
                vals = sims[iu, ju]
                keep = np.isfinite(vals) & (vals >= threshold)
                if keep.any():
                    out_a.append(ids[iu[keep]])
                    out_b.append(ids[ju[keep]])
                    out_s.append(vals[keep])
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_a), type=pa.int64()),
                        pa.array(np.concatenate(out_b), type=pa.int64()),
                        pa.array(np.concatenate(out_s), type=pa.float64()),
                    ],
                    names=["id_a", "id_b", "cos_sim"],
                )

    pairs = buckets.mapInArrow(
        score_buckets, "id_a long, id_b long, cos_sim double"
    )
    return pairs.groupBy("id_a", "id_b").agg(F.min("cos_sim").alias("cos_sim"))


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, k: int = 10, n_centroids: int = 16, nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign corpus to coarse centroids once, then
    each query searches only its nprobe nearest inverted lists.

    Scale shape: centroid table broadcast (tiny); corpus assignment is one
    map-side argmin (no shuffle); the probe join keys on centroid_id so a
    query touches nprobe/n_centroids of the corpus.
    """
    assigned, cents = ivf_assign(corpus, vec_col, id_col, n_centroids,
                                 centroids=centroids)
    q = queries.select(F.col(query_id), as_double(F.col(vec_col)).alias("__qv"))
    # nprobe nearest centroids per query
    qc = q.crossJoin(F.broadcast(cents)).select(
        query_id, "__qv", "centroid_id",
        cosine_similarity(F.col("__qv"), F.col("__cent")).alias("__cs"),
    )
    wq = Window.partitionBy(query_id).orderBy(F.desc("__cs"), F.col("centroid_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(query_id, "__qv", "centroid_id")
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        query_id, id_col,
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmeans_centroids(
    corpus: DataFrame, vec_col: str, id_col: str,
    k: int = 16, iters: int = 3, sample_stride: int = 37,
) -> DataFrame:
    """Distributed Lloyd iterations refining the IVF coarse quantizer:
    assign = broadcast-centroids + per-row argmax cosine (map-side only),
    update = posexplode → groupBy(centroid, pos).avg → re-assemble vector.

    Scale shape per iteration: one narrow crossJoin against the tiny
    broadcast centroid table, one two-phase aggregate whose key space is
    k×dim — no all-pairs work, centroids round-trip through the driver
    (k×dim doubles) as every k-means does. Deterministic init (id % stride
    sample, ordered — LIMIT without ORDER BY is partition-layout-dependent);
    empty clusters drop out (k may shrink).
    ``localCheckpoint`` truncates the per-iteration lineage."""
    c = corpus.select(
        F.col(id_col).alias("__kid"), as_double(F.col(vec_col)).alias("__cv")
    )
    cents = (
        corpus.filter((F.col(id_col) % sample_stride) == 0)
        .orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            as_double(F.col(vec_col)).alias("__cent"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("__kid").orderBy(F.desc("__cs"), F.col("centroid_id"))
    for _ in range(iters):
        assigned = (
            c.crossJoin(F.broadcast(cents))
            .select(
                "__kid", "__cv", "centroid_id",
                cosine_similarity(F.col("__cv"), F.col("__cent")).alias("__cs"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        cents = (
            assigned.select("centroid_id", F.posexplode("__cv").alias("pos", "v"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("v").alias("v"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("__cent")
            )
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_assign(corpus: DataFrame, vec_col: str, id_col: str,
               n_centroids: int = 16, sample_stride: int = 37,
               centroids: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: centroids = deterministic sample of corpus rows
    (id % stride pattern, ordered — LIMIT without ORDER BY depends on the
    partition layout, so a repartitioned corpus would silently get different
    centroids and different ivf_topk results) or a precomputed table (e.g.
    ``kmeans_centroids``), assignment = argmax cosine against the broadcast
    centroid table. Returns (assigned_corpus, centroids)."""
    cents = centroids if centroids is not None else (
        corpus.filter((F.col(id_col) % sample_stride) == 0)
        .orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            as_double(F.col(vec_col)).alias("__cent"),
        )
    )
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    scored = c.crossJoin(F.broadcast(cents)).select(
        id_col, "__cv", "centroid_id",
        cosine_similarity(F.col("__cv"), F.col("__cent")).alias("__cs"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__cs"), F.col("centroid_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "__cv", "centroid_id")
    )
    return assigned, cents


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid: "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the memory-compression scale path
# of the ANN trio (hyperplane LSH = bucketing, IVF = list pruning, PQ =
# per-vector compression). A 64-dim float vector (256 B) compresses to
# m one-byte codes; at 100 TB of embeddings the PQ code table fits in a
# fraction of cluster RAM where raw vectors cannot.
# ---------------------------------------------------------------------------

def _l2_normalize(x):
    """Row-wise L2 normalization (numpy). PQ quantizes in L2 space; on
    unit vectors squared L2 is 2-2·cos, so ADC ranking matches the cosine
    ranking every other ANN path in this module uses. Zero vectors pass
    through unscaled."""
    import numpy as np

    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def pq_train_codebooks(
    corpus: DataFrame, vec_col: str, id_col: str, dim: int,
    m: int = 8, k: int = 16, iters: int = 5, sample_rows: int = 2048,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks on a bounded deterministic sample.

    Returns ``m`` codebooks of ``k`` centroids × ``dim/m`` components
    (python floats — broadcast as literals, never a shuffle).

    Sampling to the driver is the standard PQ training recipe (codebooks
    are a few KB; training data requirements grow with k, not corpus size).
    The sample is ordered-by-id so repartitioned corpora train identical
    codebooks; Lloyd iterations are seeded k-means++-free: initial centroids
    are the first k sample rows per subspace (deterministic), which is
    adequate for the 4-bit codebooks used here and keeps the whole pipeline
    rerun-stable."""
    import numpy as np

    assert dim % m == 0
    sub = dim // m
    sample = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_rows)
    ).toPandas()
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    x = _l2_normalize(x)
    books: list[list[list[float]]] = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cents = xs[:k].copy()
        for _ in range(iters):
            # assign: (n, k) squared L2
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(k):
                mask = a == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
        books.append([[float(v) for v in row] for row in cents])
    return books


def pq_encode(
    corpus: DataFrame, vec_col: str, id_col: str, dim: int,
    books: list[list[list[float]]],
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices (array<short>).

    Map-side only: codebooks ride to executors as captured literals inside
    one Arrow-batched pass; no shuffle at any corpus size."""
    import numpy as np

    m = len(books)
    sub = dim // m
    cents = [np.asarray(b, dtype=np.float64) for b in books]
    schema = f"{id_col} long, __code array<smallint>"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            x = _l2_normalize(x)
            codes = np.empty((len(x), m), dtype=np.int16)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                d = ((xs[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "__code": list(codes)})

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema)


def pq_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 10, m: int = 8, n_codes: int = 16,
    books: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): the query
    stays exact, corpus vectors are looked up through their PQ codes.

    Per query a (m × n_codes) distance table is precomputed; scoring a
    corpus row is m table lookups + adds (numpy gather-sum over the whole
    Arrow batch at once). Scale shape: codes + query LUTs are map-side
    (queries broadcast as a literal), the only shuffle is the per-query
    top-k heap — identical to brute_force_topk's final stage but over
    8-byte codes instead of 256-byte vectors.

    Returns (query_id, id, adc_dist) — smaller is closer. Vectors are
    L2-normalized on both sides, so adc_dist approximates 2 - 2·cosine and
    the ranking agrees with the cosine-based paths (brute force, LSH, IVF).
    """
    import numpy as np

    sub = dim // m
    if books is None:
        books = pq_train_codebooks(corpus, vec_col, id_col, dim, m, n_codes)
    if codes is None:
        codes = pq_encode(corpus, vec_col, id_col, dim, books)
    cents = [np.asarray(b, dtype=np.float64) for b in books]
    qrows = (
        queries.select(query_id, vec_col).orderBy(query_id).toPandas()
    )
    qids = qrows[query_id].to_numpy()
    qvecs = _l2_normalize(np.asarray(
        [np.asarray(v, dtype=np.float64) for v in qrows[vec_col]]
    ))
    # LUT[q, j, c] = ||query_q[sub j] - centroid_c[sub j]||^2
    luts = np.empty((len(qids), m, len(cents[0])), dtype=np.float64)
    for j in range(m):
        qs = qvecs[:, j * sub:(j + 1) * sub]
        luts[:, j, :] = (
            (qs[:, None, :] - cents[j][None, :, :]) ** 2
        ).sum(axis=2)

    schema = f"{query_id} long, {id_col} long, adc_dist double"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.asarray(list(pdf["__code"]), dtype=np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            for qi, qid in enumerate(qids):
                # gather-sum: dist[i] = sum_j LUT[qi, j, c[i, j]]
                d = luts[qi][np.arange(m)[None, :], c].sum(axis=1)
                yield pd.DataFrame({
                    query_id: np.full(len(ids), qid, dtype=np.int64),
                    id_col: ids,
                    "adc_dist": d,
                })

    scored = codes.mapInPandas(gen, schema)
    w = Window.partitionBy(query_id).orderBy("adc_dist", F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivfpq_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 10, n_centroids: int = 8,
    nprobe: int = 3, m: int = 8, n_codes: int = 16,
    sample_rows: int = 2048,
) -> DataFrame:
    """IVF + PQ composition (the FAISS IVFPQ architecture): coarse centroids
    prune which inverted lists a query scans, PQ codes of the RESIDUAL
    (vector − its centroid) compress what is scanned.

    Residual encoding matters: residuals concentrate near the origin, so the
    same 4-bit codebooks quantize them far more finely than raw vectors.

    Scale shape: corpus-side work (assignment + residual + encoding) is one
    broadcast-centroid map pass producing (id, centroid_id, 8-byte code) —
    the inverted index. The probe join keys on centroid_id so a query
    ADC-scans nprobe/n_centroids of the codes; per (query, centroid) the LUT
    is built from the query's residual against that centroid. Final top-k is
    the usual per-query heap. Nothing ever shuffles raw vectors.
    """
    import numpy as np

    sub = dim // m
    # coarse quantizer + assignment (deterministic, ordered init)
    assigned, cents_df = ivf_assign(corpus, vec_col, id_col, n_centroids)
    cent_rows = cents_df.orderBy("centroid_id").collect()
    cent_ids = np.asarray([r["centroid_id"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.asarray([list(r["__cent"]) for r in cent_rows],
                          dtype=np.float64)
    cent_of = {int(i): cent_mat[j] for j, i in enumerate(cent_ids)}

    # train PQ codebooks on a bounded sample of residuals
    sample = (
        assigned.orderBy(id_col).limit(sample_rows)
        .select(id_col, "__cv", "centroid_id")
    ).toPandas()
    res = np.asarray([
        np.asarray(v, dtype=np.float64) - cent_of[int(c)]
        for v, c in zip(sample["__cv"], sample["centroid_id"])
    ])
    books = []
    for j in range(m):
        xs = res[:, j * sub:(j + 1) * sub]
        cb = xs[:n_codes].copy()
        for _ in range(5):
            d = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_codes):
                mask = a == c
                if mask.any():
                    cb[c] = xs[mask].mean(axis=0)
        books.append(cb)

    # encode residuals (map-side; centroids + codebooks ride as literals)
    def encode_batch(pdf):
        x = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["__cv"]])
        cs = pdf["centroid_id"].to_numpy()
        r = x - np.asarray([cent_of[int(c)] for c in cs])
        codes = np.empty((len(x), m), dtype=np.int64)
        for j in range(m):
            xs = r[:, j * sub:(j + 1) * sub]
            d = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)
        return pdf[id_col].to_numpy(), cs, codes

    # query side: nprobe nearest centroids, LUT per (query, centroid) from
    # the query residual against that centroid
    qrows = queries.select(query_id, vec_col).orderBy(query_id).toPandas()
    qids = qrows[query_id].to_numpy()
    qvecs = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in qrows[vec_col]])
    qnorm = np.linalg.norm(qvecs, axis=1, keepdims=True)
    cnorm = np.linalg.norm(cent_mat, axis=1)
    cos = (qvecs @ cent_mat.T) / np.maximum(qnorm * cnorm[None, :], 1e-12)
    probe_order = np.argsort(-cos, axis=1)[:, :nprobe]

    luts: dict[tuple[int, int], object] = {}
    probe_sets: dict[int, set[int]] = {}
    for qi, qid in enumerate(qids):
        probe_sets[int(qid)] = set()
        for pj in probe_order[qi]:
            cid = int(cent_ids[pj])
            probe_sets[int(qid)].add(cid)
            qres = qvecs[qi] - cent_mat[pj]
            lut = np.empty((m, n_codes), dtype=np.float64)
            for j in range(m):
                qs = qres[j * sub:(j + 1) * sub]
                lut[j] = ((qs[None, :] - books[j]) ** 2).sum(axis=1)
            luts[(int(qid), cid)] = lut

    out_schema = f"{query_id} long, {id_col} long, adc_dist double"

    # encode + ADC-scan fused into ONE Python pass (guide §4, same
    # restructure as ivfpq_topk_fixed): the two-stage form shipped the
    # (id, centroid_id, code) index JVM -> Python -> JVM -> Python inside
    # the same task for nothing
    def encode_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, cids, c = encode_batch(pdf)
            for qid, cset in probe_sets.items():
                mask = np.isin(cids, list(cset))
                if not mask.any():
                    continue
                sel_ids, sel_c, sel_cid = ids[mask], c[mask], cids[mask]
                d = np.empty(len(sel_ids), dtype=np.float64)
                for cid in cset:
                    cmask = sel_cid == cid
                    if not cmask.any():
                        continue
                    lut = luts[(qid, cid)]
                    d[cmask] = lut[np.arange(m)[None, :], sel_c[cmask]].sum(axis=1)
                yield pd.DataFrame({
                    query_id: np.full(mask.sum(), qid, dtype=np.int64),
                    id_col: sel_ids,
                    "adc_dist": d,
                })

    scored = assigned.select(id_col, "__cv", "centroid_id").mapInPandas(
        encode_score, out_schema
    )
    w = Window.partitionBy(query_id).orderBy("adc_dist", F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Fixed-point PQ: the exactly-verifiable variant of the ADC pipeline.
#
# The float PQ path above cannot be hash-compared against a SQL oracle:
# normalization and distance sums route through numpy pairwise summation,
# whose ulp placement no sequential SQL re-computation reproduces. This
# variant makes the WHOLE pipeline integer-exact instead:
#
#   quantize   xq[i] = floor(x[i] * 2^20)     (power-of-two scaling is exact
#                                              on doubles; floor on the same
#                                              double is engine-invariant)
#   train      integer Lloyd on the quantized sample (int64 squared L2,
#              floor-div centroid means) — bit-reproducible anywhere
#   encode     per-subspace int64 argmin (first-min tie rule = numpy argmin)
#   ADC        int64 LUT gather-sums
#
# Every number after the quantize is an exact int64, so a DuckDB oracle with
# the trained codebooks inlined as BIGINT literals matches hash-for-hash.
# The float path stays as the production recall surface (tests pin recall);
# this is the correctness-evidence surface for the same architecture.
# ---------------------------------------------------------------------------

FIXED_POINT_SCALE = 1 << 20


def quantize_fixed_expr(vec: Column, scale: int = FIXED_POINT_SCALE) -> Column:
    """array<float> -> array<long> via floor(x * 2^k): JVM-side, exact."""
    return F.transform(
        as_double(vec), lambda x: F.floor(x * F.lit(float(scale))).cast("long")
    )


def _quantize_fixed_np(x, scale: int = FIXED_POINT_SCALE):
    import numpy as np

    return np.floor(np.asarray(x, dtype=np.float64) * scale).astype(np.int64)


def pq_train_codebooks_fixed(
    xq, m: int = 8, k: int = 16, iters: int = 5
) -> list[list[list[int]]]:
    """Integer Lloyd per subspace over a quantized sample (int64 exact).

    Initial centroids are the first k sample rows (deterministic, same rule
    as the float trainer); empty clusters keep their previous centroid.
    Centroid update is elementwise floor-div mean — still integer, so a
    re-run anywhere (numpy, plain python, an oracle builder) reproduces the
    books bit-for-bit."""
    import numpy as np

    xq = np.asarray(xq, dtype=np.int64)
    dim = xq.shape[1]
    assert dim % m == 0
    sub = dim // m
    books: list[list[list[int]]] = []
    for j in range(m):
        xs = xq[:, j * sub:(j + 1) * sub]
        cents = xs[:k].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(k):
                mask = a == c
                if mask.any():
                    cents[c] = xs[mask].sum(axis=0) // int(mask.sum())
        books.append([[int(v) for v in row] for row in cents])
    return books


def pq_fixed_reference_books(
    sf_dir: str | None = None, dim: int = 64, m: int = 8, k: int = 16,
    sample_rows: int = 2048,
) -> list[list[list[int]]]:
    """Canonical codebooks: trained once on the oracle-scale embeddings
    (first `sample_rows` vec_ids), cached per process.  Both the Spark query
    and the DuckDB oracle builder call this, so they share identical books
    by construction — the 'pretrained model artifact' pattern: at cluster
    scale codebooks are a few KB trained offline and shipped as literals."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    key = (sf_dir, dim, m, k, sample_rows)
    if key in _PQ_FIXED_BOOK_CACHE:
        return _PQ_FIXED_BOOK_CACHE[key]
    import pyarrow.parquet as pq_  # no Spark needed: oracle builder path

    t = pq_.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()
    t = t.sort_values("vec_id").head(sample_rows)
    import numpy as np

    xq = _quantize_fixed_np(np.asarray(
        [np.asarray(v, dtype=np.float64) for v in t["embedding"]]
    ))
    books = pq_train_codebooks_fixed(xq, m=m, k=k)
    _PQ_FIXED_BOOK_CACHE[key] = books
    return books


_PQ_FIXED_BOOK_CACHE: dict = {}


def pq_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 5, m: int = 8, n_codes: int = 16,
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """ADC top-k over fixed-point codes — same scale shape as ``pq_topk``
    (map-side encode, codes-only shuffle for the per-query top-k heap), but
    every distance is an exact int64 so results hash-match a SQL oracle.

    Returns (query_id, id, adc_dist bigint); smaller is closer; ties broken
    by id.  Self-matches are included (dist need not be 0 after
    quantization-vs-codebook error — the code's centroid is not the vector).
    """
    import numpy as np

    sub = dim // m
    if books is None:
        books = pq_fixed_reference_books(dim=dim, m=m, k=n_codes)
    cents = [np.asarray(b, dtype=np.int64) for b in books]

    xq = corpus.select(
        F.col(id_col), quantize_fixed_expr(F.col(vec_col)).alias("__xq")
    )

    qrows = queries.select(query_id, vec_col).orderBy(query_id).toPandas()
    qids = qrows[query_id].to_numpy()
    qvq = np.asarray(
        [_quantize_fixed_np(v) for v in qrows[vec_col]], dtype=np.int64
    )
    luts = np.empty((len(qids), m, n_codes), dtype=np.int64)
    for j in range(m):
        qs = qvq[:, j * sub:(j + 1) * sub]
        luts[:, j, :] = ((qs[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)

    out_schema = f"{query_id} long, {id_col} long, adc_dist long"

    # encode + ADC-scan fused into ONE Python pass (guide §4, same
    # restructure as ivfpq_topk_fixed): codes are consumed immediately by
    # the scorer and never needed JVM-side
    def encode_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["__xq"]), dtype=np.int64)
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                d = ((xs[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            ids = pdf[id_col].to_numpy()
            for qi, qid in enumerate(qids):
                d = luts[qi][np.arange(m)[None, :], codes].sum(axis=1)
                yield pd.DataFrame({
                    query_id: np.full(len(ids), qid, dtype=np.int64),
                    id_col: ids,
                    "adc_dist": d,
                })

    scored = xq.mapInPandas(encode_score, out_schema)
    w = Window.partitionBy(query_id).orderBy("adc_dist", F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= k) & (F.col("rn") <= F.lit(k)))
        .drop("rn")
    )


def ivfpq_fixed_reference(
    sf_dir: str | None = None, dim: int = 64, m: int = 8, n_codes: int = 16,
    n_centroids: int = 8, sample_rows: int = 2048,
):
    """Canonical fixed-point IVFPQ model: (coarse centroids, residual
    codebooks), trained once on the oracle-scale sample and cached.  Coarse
    quantizer = integer Lloyd over the FULL dim (pq_train_codebooks_fixed
    with m=1); residual books = integer Lloyd over sample residuals.  Shared
    verbatim by the Spark query and the oracle builder."""
    import os

    import numpy as np

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    key = ("ivfpq", sf_dir, dim, m, n_codes, n_centroids, sample_rows)
    if key in _PQ_FIXED_BOOK_CACHE:
        return _PQ_FIXED_BOOK_CACHE[key]
    import pyarrow.parquet as pq_

    t = pq_.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas().sort_values("vec_id").head(sample_rows)
    xq = _quantize_fixed_np(np.asarray(
        [np.asarray(v, dtype=np.float64) for v in t["embedding"]]
    ))
    coarse = np.asarray(
        pq_train_codebooks_fixed(xq, m=1, k=n_centroids)[0], dtype=np.int64
    )
    d = ((xq[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
    res = xq - coarse[d.argmin(axis=1)]
    books = pq_train_codebooks_fixed(res, m=m, k=n_codes)
    ref = ([[int(v) for v in row] for row in coarse], books)
    _PQ_FIXED_BOOK_CACHE[key] = ref
    return ref


def ivfpq_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 5, m: int = 8, n_codes: int = 16,
    n_centroids: int = 8, nprobe: int = 3, ref=None,
) -> DataFrame:
    """IVFPQ (coarse list pruning + residual PQ) in the exact int64 domain.

    Same inverted-index scale shape as the float ``ivfpq_topk`` — one
    map-side pass builds (id, centroid_id, code), queries ADC-scan only
    their nprobe lists — but every distance is an exact integer, so the
    DuckDB oracle hash-matches. Probe order ties break on centroid index
    (stable argsort == ORDER BY d, cid)."""
    import numpy as np

    sub = dim // m
    if ref is None:
        ref = ivfpq_fixed_reference(
            dim=dim, m=m, n_codes=n_codes, n_centroids=n_centroids
        )
    coarse = np.asarray(ref[0], dtype=np.int64)
    cents = [np.asarray(b, dtype=np.int64) for b in ref[1]]

    xq = corpus.select(
        F.col(id_col), quantize_fixed_expr(F.col(vec_col)).alias("__xq")
    )
    qrows = queries.select(query_id, vec_col).orderBy(query_id).toPandas()
    qids = qrows[query_id].to_numpy()
    qvq = np.asarray(
        [_quantize_fixed_np(v) for v in qrows[vec_col]], dtype=np.int64
    )
    luts: dict[tuple[int, int], object] = {}
    probe_sets: dict[int, list[int]] = {}
    for qi, qid in enumerate(qids):
        dcent = ((qvq[qi][None, :] - coarse) ** 2).sum(axis=1)
        order = np.argsort(dcent, kind="stable")[:nprobe]
        probe_sets[int(qid)] = [int(c) for c in order]
        for cid in order:
            qres = qvq[qi] - coarse[cid]
            lut = np.empty((m, n_codes), dtype=np.int64)
            for j in range(m):
                qs = qres[j * sub:(j + 1) * sub]
                lut[j] = ((qs[None, :] - cents[j]) ** 2).sum(axis=1)
            luts[(int(qid), int(cid))] = lut

    out_schema = f"{query_id} long, {id_col} long, adc_dist long"

    def score_arrays(ids, cids, c):
        # ADC over one batch of (id, centroid_id, code) arrays
        for qid, plist in probe_sets.items():
            mask = np.isin(cids, plist)
            if not mask.any():
                continue
            sel_ids, sel_c, sel_cid = ids[mask], c[mask], cids[mask]
            d = np.empty(len(sel_ids), dtype=np.int64)
            for cid in plist:
                cmask = sel_cid == cid
                if not cmask.any():
                    continue
                lut = luts[(qid, cid)]
                d[cmask] = lut[
                    np.arange(m)[None, :], sel_c[cmask]
                ].sum(axis=1)
            yield pd.DataFrame({
                query_id: np.full(int(mask.sum()), qid, dtype=np.int64),
                id_col: sel_ids,
                "adc_dist": d,
            })

    # encode and ADC-scan fused into ONE Python pass (r13 optimization
    # pass, guide §4): the two-stage form ran back-to-back mapInPandas
    # operators, shipping the (id, centroid_id, code) relation
    # JVM -> Python -> JVM -> Python for no reason — the codes are
    # consumed immediately by the scorer and never needed JVM-side.
    def encode_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["__xq"]), dtype=np.int64)
            dc = ((x[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
            cid = dc.argmin(axis=1)
            r = x - coarse[cid]
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = r[:, j * sub:(j + 1) * sub]
                d = ((xs[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield from score_arrays(
                pdf[id_col].to_numpy(), cid.astype(np.int64), codes
            )

    scored = xq.mapInPandas(encode_score, out_schema)
    w = Window.partitionBy(query_id).orderBy("adc_dist", F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_plane_ints(dim: int, bits: int = 16) -> list[list[int]]:
    """Deterministic small-integer hyperplanes for the fixed-point LSH twin:
    P[b][i] = ((5b + 11i + 3) mod 17) - 8.  The single source of truth for
    BOTH the Spark kernel and the DuckDB oracle literals (same discipline as
    ``pq_fixed_reference_books``).  Empirically well balanced on the test
    embeddings (per-bit sign rate 0.44-0.54)."""
    return [
        [((5 * b + 11 * i + 3) % 17) - 8 for i in range(dim)]
        for b in range(bits)
    ]


def lsh_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 5, bits: int = 16, bands: int = 4,
) -> DataFrame:
    """Hyperplane-LSH candidate top-k in the exact int64 domain: the
    hash-grade twin of ``lsh_bucketed_topk`` (same architecture — sign-bit
    signature, banded buckets, exact re-rank inside candidate buckets — as
    Charikar STOC'02 SimHash over hyperplanes).

    All math is exact integer: vectors quantize via floor(x*2^20), planes
    are small-int literals (``lsh_plane_ints``), a candidate is any corpus
    row sharing >=1 of the ``bands`` band values (bits/bands sign bits
    packed little-endian) with the query, and candidates re-rank by exact
    int64 squared L2.  The DuckDB oracle replays every step from the same
    literals and hash-matches.

    Scale shape: ONE map-side Arrow pass over the corpus (signature = one
    integer dgemm per batch, exactly like the float path's profiled kernel);
    the bounded query set rides inside the closure, so the only shuffle is
    the final per-query top-k window over candidate rows (~20-30%% of the
    corpus per query at the test data's bit balance)."""
    import numpy as np

    assert bits % bands == 0
    bw = bits // bands
    P = np.asarray(lsh_plane_ints(dim, bits), dtype=np.int64)

    qrows = queries.select(query_id, vec_col).orderBy(query_id).toPandas()
    qids = qrows[query_id].to_numpy()
    qvq = np.asarray(
        [_quantize_fixed_np(v) for v in qrows[vec_col]], dtype=np.int64
    )
    qbits = (qvq @ P.T >= 0).astype(np.int64)
    qband = np.stack(
        [sum(qbits[:, bw * g + j] << j for j in range(bw))
         for g in range(bands)], axis=1,
    )  # (nq, bands)

    xq = corpus.select(
        F.col(id_col), quantize_fixed_expr(F.col(vec_col)).alias("__xq")
    )
    out_schema = f"{query_id} long, {id_col} long, l2_fixed long"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["__xq"]), dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            cbits = (x @ P.T >= 0).astype(np.int64)
            cband = np.stack(
                [sum(cbits[:, bw * g + j] << j for j in range(bw))
                 for g in range(bands)], axis=1,
            )
            for qi, qid in enumerate(qids):
                mask = (cband == qband[qi][None, :]).any(axis=1)
                if not mask.any():
                    continue
                d = ((x[mask] - qvq[qi][None, :]) ** 2).sum(axis=1)
                yield pd.DataFrame({
                    query_id: np.full(int(mask.sum()), qid, dtype=np.int64),
                    id_col: ids[mask],
                    "l2_fixed": d,
                })

    scored = xq.mapInPandas(score, out_schema)
    w = Window.partitionBy(query_id).orderBy("l2_fixed", F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 5, n_centroids: int = 8,
    nprobe: int = 3, ref=None,
) -> DataFrame:
    """IVF (coarse inverted lists, exact in-list scan) in the exact int64
    domain: the hash-grade twin of the float ``ivf_topk``, sharing the coarse
    quantizer with ``ivfpq_topk_fixed`` (``ivfpq_fixed_reference`` m=1
    integer Lloyd) but scanning probed lists with exact full-vector squared
    L2 instead of ADC codes — the FAISS IVFFlat architecture.

    Same scale shape as the float path: centroids ride as literals in the
    closure, corpus assignment is one map-side Arrow argmin pass, queries
    touch only nprobe/n_centroids of the corpus, and raw vectors never
    shuffle (the per-query candidate rows carry only id + distance)."""
    import numpy as np

    if ref is None:
        ref = ivfpq_fixed_reference(dim=dim, n_centroids=n_centroids)
    coarse = np.asarray(ref[0], dtype=np.int64)

    xq = corpus.select(
        F.col(id_col), quantize_fixed_expr(F.col(vec_col)).alias("__xq")
    )

    qrows = queries.select(query_id, vec_col).orderBy(query_id).toPandas()
    qids = qrows[query_id].to_numpy()
    qvq = np.asarray(
        [_quantize_fixed_np(v) for v in qrows[vec_col]], dtype=np.int64
    )
    probe_sets: dict[int, list[int]] = {}
    qvecs: dict[int, object] = {}
    for qi, qid in enumerate(qids):
        dcent = ((qvq[qi][None, :] - coarse) ** 2).sum(axis=1)
        order = np.argsort(dcent, kind="stable")[:nprobe]
        probe_sets[int(qid)] = [int(c) for c in order]
        qvecs[int(qid)] = qvq[qi]

    out_schema = f"{query_id} long, {id_col} long, l2_fixed long"

    def assign_and_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf["__xq"]), dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            dc = ((x[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
            cids = dc.argmin(axis=1)
            for qid, plist in probe_sets.items():
                mask = np.isin(cids, plist)
                if not mask.any():
                    continue
                d = ((x[mask] - qvecs[qid][None, :]) ** 2).sum(axis=1)
                yield pd.DataFrame({
                    query_id: np.full(int(mask.sum()), qid, dtype=np.int64),
                    id_col: ids[mask],
                    "l2_fixed": d,
                })

    scored = xq.mapInPandas(assign_and_score, out_schema)
    w = Window.partitionBy(query_id).orderBy("l2_fixed", F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def maxsim_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, n_sub: int = 4, sub_dim: int = 16, k: int = 5,
    scale: int = 1024,
) -> DataFrame:
    """MaxSim late-interaction top-k (Khattab & Zaharia SIGIR'20 ColBERT
    shape) in fixed-point int64: each vector is n_sub sub-vectors of
    sub_dim dims; score(q, d) = sum over query sub-vectors of the MAX dot
    product against any doc sub-vector. floor(x*scale) makes every dot
    engine-exact (the registered ``maxsim_fixed_topk`` hash-checks this
    path against a DuckDB replay).

    Scale shape: the bounded query batch broadcasts into a nested-loop
    over the corpus scan; all n_sub^2 dots are codegen folds over array
    slices; the only shuffle is the per-query top-k window (literal rank
    bound -> WindowGroupLimit heaps)."""
    fx = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * scale).cast("long"),
    )
    d = corpus.select(F.col(id_col).alias("__did"), fx.alias("dv"))
    q = queries.select(F.col(query_id).alias("__qid"), fx.alias("qv"))

    def dot(qoff: int, doff: int):
        return F.aggregate(
            F.zip_with(
                F.slice("qv", qoff + 1, sub_dim),
                F.slice("dv", doff + 1, sub_dim),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    score = None
    for i in range(n_sub):
        sub = F.greatest(
            *[dot(sub_dim * i, sub_dim * j) for j in range(n_sub)]
        )
        score = sub if score is None else score + sub
    sc = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("__did") != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id),
            F.col("__did").alias(id_col),
            score.alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), id_col)
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id, id_col, "score")
        .orderBy(query_id, id_col)
    )


def gram_power_eigvec(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    dim: int = 64, iters: int = 3,
):
    """Leading-eigenvector power iteration on the EXACT integer gram
    matrix of a corpus of embeddings: coordinates quantize to
    floor(x * 2^10), G = Q^T Q accumulates in int64, and each v <- G v
    step renormalizes by the max-abs component at e3 scale (truncation
    toward zero). Returns ``(v, peak)``: the final (j, v) eigenvector
    table and the 1-row max-abs of the last unnormalized product (the
    eigenvalue-magnitude proxy). Single definition shared by the
    registered query ``pca_power_iter_fixed`` and the stress harness
    (scripts/stress_retrieval.py pca) so the certified and the stressed
    code paths cannot drift. Scale shape: the gram aggregate is one
    map-side-combinable shuffle of (i, j) partials; iterations run on
    the dim x dim matrix regardless of corpus size."""
    spark = emb.sparkSession
    q = emb.select(
        id_col,
        F.posexplode(
            F.expr(f"transform({vec_col}, e -> "
                   "cast(floor(cast(e as double) * 1024) as long))")
        ).alias("i0", "q"),
    ).select(id_col, (F.col("i0") + 1).alias("i"), "q")
    qa = q.select(id_col, F.col("i").alias("ai"), F.col("q").alias("aq"))
    qb = q.select(id_col, F.col("i").alias("bj"), F.col("q").alias("bq"))
    g = (
        qa.join(qb, id_col)
        .groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
        .agg(F.sum(F.col("aq") * F.col("bq")).cast("long").alias("g"))
        .localCheckpoint(eager=True)
    )
    v = spark.range(1, dim + 1).select(
        F.col("id").alias("j"), F.lit(1000).cast("long").alias("v")
    )
    peak = None
    for it in range(iters):
        sv = (
            g.join(v, "j")
            .groupBy(F.col("i"))
            .agg(F.sum(F.col("g") * F.col("v")).cast("long").alias("s"))
        ).localCheckpoint(eager=True)
        peak = sv.agg(F.max(F.abs("s")).alias("m"))
        # Degenerate-input guard (mirrors hits_fixed): if this iteration's
        # product has max-abs 0 — every coordinate quantized to 0, the
        # start vector sits in G's null space, or a later renormalized
        # vector quantizes INTO the null space — the e3 renormalization
        # below would divide by zero and silently null out the
        # eigenvector. Fail loudly instead. One-row probe per iteration
        # over the checkpointed dim-sized product (iteration count is a
        # constant of the call, so this adds O(iters) tiny actions, not a
        # per-row cost).
        probe = peak.first()
        if probe is None or probe["m"] is None or probe["m"] == 0:
            raise ValueError(
                "gram_power_eigvec: degenerate gram product (max|G.v| "
                f"== 0 on iteration {it}); inputs quantize to zero at "
                "the 2^10 scale or the iterated vector entered G's "
                "null space"
            )
        v = sv.crossJoin(F.broadcast(peak)).select(
            F.col("i").alias("j"),
            F.expr("s * 1000 div m").cast("long").alias("v"),
        )
    return v, peak
