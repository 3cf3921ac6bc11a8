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
from ..kernels import list_to_matrix, matrix_to_list
from .relational import assert_small


def _topk_per_key(scored: DataFrame, key: str, k: int, *order) -> DataFrame:
    """The first ``k`` rows of each ``key`` under ``order``. The literal
    bound lets Spark run the heap per partition (WindowGroupLimit) before
    the one exchange."""
    w = Window.partitionBy(key).orderBy(*order)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


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
    return _topk_per_key(scored, query_id, k, F.desc("cos_sim"), F.col(id_col))


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
    return _topk_per_key(scored, query_id, k, F.desc("cos_sim"), F.col(id_col))


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
    probes = _topk_per_key(
        qc, query_id, nprobe, F.desc("__cs"), F.col("centroid_id")
    ).select(query_id, "__qv", "centroid_id")
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        query_id, id_col,
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cos_sim"),
    )
    return _topk_per_key(scored, query_id, k, F.desc("cos_sim"), F.col(id_col))


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
    for _ in range(iters):
        assigned = _topk_per_key(
            c.crossJoin(F.broadcast(cents)).select(
                "__kid", "__cv", "centroid_id",
                cosine_similarity(F.col("__cv"), F.col("__cent")).alias("__cs"),
            ),
            "__kid", 1, F.desc("__cs"), F.col("centroid_id"),
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
    assigned = _topk_per_key(
        scored, id_col, 1, F.desc("__cs"), F.col("centroid_id")
    ).select(id_col, "__cv", "centroid_id")
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


# ---------------------------------------------------------------------------
# The PQ/ADC core. Every scorer below, float or fixed-point, runs these same
# bodies; the dtype of the input (float64 or int64) is the only difference.
# ---------------------------------------------------------------------------

def _part_width(total: int, parts: int, what: str) -> int:
    """``total // parts``; ``ValueError`` when ``parts`` does not divide it."""
    if parts <= 0 or total % parts:
        raise ValueError(f"{what}: {total} does not split into {parts} equal parts")
    return total // parts


def _sub_dists(x, books):
    """``(n, m, k)`` squared L2 from each row's subspace ``j`` to the ``k``
    centroids of ``books[j]``: the encode distances of corpus rows and the
    ADC lookup tables (LUTs) of query rows alike."""
    import numpy as np

    sub = _part_width(x.shape[1], len(books), "vector dim / subspaces")
    return np.stack([
        ((x[:, None, j * sub:(j + 1) * sub] - b[None, :, :]) ** 2).sum(axis=2)
        for j, b in enumerate(books)
    ], axis=1)


def _encode(x, books):
    """``(n, m)`` nearest-centroid index per subspace (first minimum wins)."""
    return _sub_dists(x, books).argmin(axis=2)


def _adc(lut, codes):
    """Asymmetric distance: ``dist[i] = sum_j lut[j, codes[i, j]]``."""
    import numpy as np

    return lut[np.arange(lut.shape[0])[None, :], codes].sum(axis=1)


def _lloyd_books(x, m: int, k: int, iters: int):
    """Per-subspace Lloyd over sample rows ``x``: initial centroids are the
    first ``k`` rows (deterministic); empty clusters keep their centroid. An
    integer ``x`` takes the elementwise floor-div mean, so its books stay
    exact int64 and any re-run reproduces them bit for bit."""
    import numpy as np

    sub = _part_width(x.shape[1], m, "vector dim / m")
    integer = np.issubdtype(x.dtype, np.integer)
    books = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cents = xs[:k].copy()
        for _ in range(iters):
            a = _encode(xs, [cents])[:, 0]
            for c in range(k):
                mask = a == c
                if mask.any():
                    cents[c] = (xs[mask].sum(axis=0) // int(mask.sum()) if integer
                                else xs[mask].mean(axis=0))
        books.append(cents)
    return books


def _collect_matrix(df: DataFrame, vec_col: str):
    """Collect a bounded, ordered relation as an Arrow table plus its vector
    column as one ``(n, d)`` array (null or ragged rows raise)."""
    t = df.toArrow()
    return t, list_to_matrix(t.column(vec_col).combine_chunks())


def _query_matrix(queries: DataFrame, query_id: str, vec_col: str):
    """The bounded query side, ordered by id: ``(ids int64[nq], vectors)``."""
    t, q = _collect_matrix(queries.select(query_id, vec_col).orderBy(query_id), vec_col)
    return t.column(query_id).to_numpy(), q


def _scan(rows: DataFrame, score, query_id: str, id_col: str, dist_col: str,
          dist_dtype) -> DataFrame:
    """The partition-local scan every scorer shares: one ``mapInArrow`` pass
    over ``rows`` = (id, vector or codes, *extra columns). ``score(ids, x,
    *extra)`` yields ``(query id, matched ids, distances)`` per query; each
    input batch leaves as one Arrow batch of candidate rows."""
    import numpy as np
    import pyarrow as pa

    integer = np.issubdtype(dist_dtype, np.integer)
    dist_type = pa.int64() if integer else pa.float64()

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, x = batch.column(0).to_numpy(zero_copy_only=False), list_to_matrix(batch.column(1))
            extra = [c.to_numpy(zero_copy_only=False) for c in batch.columns[2:]]
            parts = list(score(ids, x, *extra))
            if not parts:
                continue
            qs, hits, dists = zip(*parts)
            yield pa.RecordBatch.from_arrays([
                pa.array(np.repeat(qs, [len(h) for h in hits]), pa.int64()),
                pa.array(np.concatenate(hits), pa.int64()),
                pa.array(np.concatenate(dists), dist_type),
            ], names=[query_id, id_col, dist_col])

    return rows.mapInArrow(
        gen, f"{query_id} long, {id_col} long, {dist_col} {'long' if integer else 'double'}"
    )


def _adc_scan(rows: DataFrame, qids, luts, query_id: str, id_col: str,
              encode=None) -> DataFrame:
    """ADC of every query (``luts[qi]``) against every row of ``rows``,
    whose second column holds PQ codes, or vectors that ``encode`` maps to
    codes inside the same pass."""
    def score(ids, x):
        codes = x if encode is None else encode(x)
        for qid, lut in zip(qids, luts):
            yield qid, ids, _adc(lut, codes)

    return _scan(rows, score, query_id, id_col, "adc_dist", luts.dtype)


def _ivfpq_scan(rows: DataFrame, qids, q, cents, books, probes, assign,
                query_id: str, id_col: str) -> DataFrame:
    """The IVFPQ probe-scan. ``probes[qi]`` are the rows of ``cents`` that
    query ``qi`` probes; its LUT per probed list comes from its residual
    against that centroid. Each corpus row is assigned to a list
    (``assign(x, *extra)`` → row of ``cents``), residual-encoded, and
    ADC-scored only by the queries that probe its list."""
    import numpy as np

    nq, nprobe = probes.shape
    luts = _sub_dists(
        (q[:, None, :] - cents[probes]).reshape(nq * nprobe, -1), books
    ).reshape(nq, nprobe, len(books), -1)

    def score(ids, x, *extra):
        ci = assign(x, *extra)
        codes = _encode(x - cents[ci], books)
        for qi, qid in enumerate(qids):
            mask = np.isin(ci, probes[qi])
            if not mask.any():
                continue
            sel_ci, sel_codes = ci[mask], codes[mask]
            d = np.empty(len(sel_ci), dtype=luts.dtype)
            for pj, c in enumerate(probes[qi]):
                hit = sel_ci == c
                d[hit] = _adc(luts[qi, pj], sel_codes[hit])
            yield qid, ids[mask], d

    return _scan(rows, score, query_id, id_col, "adc_dist", luts.dtype)


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

    _part_width(dim, m, "pq_train_codebooks dim / m")
    _, x = _collect_matrix(
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_rows), vec_col
    )
    books = _lloyd_books(_l2_normalize(x.astype(np.float64)), m, k, iters)
    return [b.tolist() for b in books]


def pq_encode(
    corpus: DataFrame, vec_col: str, id_col: str, dim: int,
    books: list[list[list[float]]],
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices (array<smallint>).

    Map-side only: codebooks ride to executors as captured literals inside
    one Arrow-batched pass; no shuffle at any corpus size."""
    import numpy as np
    import pyarrow as pa

    cents = [np.asarray(b, dtype=np.float64) for b in books]

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            x = _l2_normalize(list_to_matrix(batch.column(1)).astype(np.float64))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).cast(pa.int64()),
                 matrix_to_list(_encode(x, cents).astype(np.int16))],
                names=[id_col, "__code"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(
        gen, f"{id_col} long, __code array<smallint>"
    )


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

    if books is None:
        books = pq_train_codebooks(corpus, vec_col, id_col, dim, m, n_codes)
    if codes is None:
        codes = pq_encode(corpus, vec_col, id_col, dim, books)
    qids, q = _query_matrix(queries, query_id, vec_col)
    luts = _sub_dists(
        _l2_normalize(q.astype(np.float64)), [np.asarray(b, dtype=np.float64) for b in books]
    )
    scored = _adc_scan(codes.select(id_col, "__code"), qids, luts, query_id, id_col)
    return _topk_per_key(scored, query_id, k, "adc_dist", F.col(id_col))


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

    Scale shape: corpus-side work (assignment + residual + encoding + ADC)
    is one broadcast-centroid map pass; a query ADC-scans only the codes of
    its nprobe nearest lists (by cosine), with one LUT per (query, probed
    centroid) built from the query's residual against that centroid. Final
    top-k is the usual per-query heap. Nothing ever shuffles raw vectors.
    """
    import numpy as np

    # coarse quantizer + assignment (deterministic, ordered init)
    assigned, cents_df = ivf_assign(corpus, vec_col, id_col, n_centroids)
    ct, cents = _collect_matrix(cents_df.orderBy("centroid_id"), "__cent")
    cent_ids = ct.column("centroid_id").to_numpy()

    def assign(x, cid):
        return np.searchsorted(cent_ids, cid)  # centroid_id → row of cents

    # PQ codebooks trained on a bounded sample of residuals
    st, sx = _collect_matrix(
        assigned.orderBy(id_col).limit(sample_rows).select(id_col, "__cv", "centroid_id"),
        "__cv",
    )
    res = sx - cents[assign(sx, st.column("centroid_id").to_numpy())]
    books = _lloyd_books(res, m, n_codes, 5)

    qids, q = _query_matrix(queries, query_id, vec_col)
    q = q.astype(np.float64)
    qnorm = np.linalg.norm(q, axis=1, keepdims=True)
    cnorm = np.linalg.norm(cents, axis=1)
    cos = (q @ cents.T) / np.maximum(qnorm * cnorm[None, :], 1e-12)
    probes = np.argsort(-cos, axis=1)[:, :nprobe]

    scored = _ivfpq_scan(
        assigned.select(id_col, "__cv", "centroid_id"), qids, q, cents, books,
        probes, assign, query_id, id_col,
    )
    return _topk_per_key(scored, query_id, k, "adc_dist", F.col(id_col))


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
# this is the correctness-evidence surface for the same architecture, and
# it runs the same core (_lloyd_books, _encode, _sub_dists, _adc and the
# scans) on int64.
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


def _quantized_rows(corpus: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, floor(x·2^20) array<long>) rows, quantized JVM-side."""
    return corpus.select(
        F.col(id_col), quantize_fixed_expr(F.col(vec_col)).alias("__xq")
    )


def _nearest_lists(q, coarse, nprobe: int):
    """``(nq, nprobe)`` coarse-centroid rows nearest each query by int64
    squared L2; ties break on centroid index (stable argsort == ORDER BY d,
    cid)."""
    import numpy as np

    return np.argsort(_sub_dists(q, [coarse])[:, 0], axis=1, kind="stable")[:, :nprobe]


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

    return [b.tolist() for b in _lloyd_books(np.asarray(xq, dtype=np.int64), m, k, iters)]


def _oracle_sf_dir(sf_dir: str | None) -> str:
    import os

    return sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )


def _reference_sample(sf_dir: str, sample_rows: int):
    """The quantized sample both fixed-point models train on: the first
    ``sample_rows`` oracle-scale embeddings by vec_id, int64 ``(n, dim)``."""
    import pyarrow.parquet as pq_  # no Spark needed: oracle builder path

    t = pq_.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).sort_by("vec_id").slice(0, sample_rows)
    return _quantize_fixed_np(list_to_matrix(t.column("embedding").combine_chunks()))


def pq_fixed_reference_books(
    sf_dir: str | None = None, dim: int = 64, m: int = 8, k: int = 16,
    sample_rows: int = 2048,
) -> list[list[list[int]]]:
    """Canonical codebooks: trained once on the oracle-scale embeddings
    (first `sample_rows` vec_ids), cached per process.  Both the Spark query
    and the DuckDB oracle builder call this, so they share identical books
    by construction — the 'pretrained model artifact' pattern: at cluster
    scale codebooks are a few KB trained offline and shipped as literals."""
    sf_dir = _oracle_sf_dir(sf_dir)
    key = (sf_dir, dim, m, k, sample_rows)
    if key not in _PQ_FIXED_BOOK_CACHE:
        _PQ_FIXED_BOOK_CACHE[key] = pq_train_codebooks_fixed(
            _reference_sample(sf_dir, sample_rows), m=m, k=k
        )
    return _PQ_FIXED_BOOK_CACHE[key]


_PQ_FIXED_BOOK_CACHE: dict = {}


def pq_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 5, m: int = 8, n_codes: int = 16,
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """ADC top-k over fixed-point codes — same scale shape as ``pq_topk``
    (map-side encode, codes-only shuffle for the per-query top-k heap), but
    every distance is an exact int64 so results hash-match a SQL oracle.
    Encode and ADC run in one pass: the codes are consumed by the scorer and
    never needed JVM-side.

    Returns (query_id, id, adc_dist bigint); smaller is closer; ties broken
    by id.  Self-matches are included (dist need not be 0 after
    quantization-vs-codebook error — the code's centroid is not the vector).
    """
    import numpy as np

    if books is None:
        books = pq_fixed_reference_books(dim=dim, m=m, k=n_codes)
    cents = [np.asarray(b, dtype=np.int64) for b in books]
    qids, q = _query_matrix(queries, query_id, vec_col)
    scored = _adc_scan(
        _quantized_rows(corpus, vec_col, id_col), qids,
        _sub_dists(_quantize_fixed_np(q), cents), query_id, id_col,
        encode=lambda x: _encode(x, cents),
    )
    return _topk_per_key(scored, query_id, k, "adc_dist", F.col(id_col))


def ivfpq_fixed_reference(
    sf_dir: str | None = None, dim: int = 64, m: int = 8, n_codes: int = 16,
    n_centroids: int = 8, sample_rows: int = 2048,
):
    """Canonical fixed-point IVFPQ model: (coarse centroids, residual
    codebooks), trained once on the oracle-scale sample and cached.  Coarse
    quantizer = integer Lloyd over the FULL dim (pq_train_codebooks_fixed
    with m=1); residual books = integer Lloyd over sample residuals.  Shared
    verbatim by the Spark query and the oracle builder."""
    import numpy as np

    sf_dir = _oracle_sf_dir(sf_dir)
    key = ("ivfpq", sf_dir, dim, m, n_codes, n_centroids, sample_rows)
    if key not in _PQ_FIXED_BOOK_CACHE:
        xq = _reference_sample(sf_dir, sample_rows)
        coarse = np.asarray(
            pq_train_codebooks_fixed(xq, m=1, k=n_centroids)[0], dtype=np.int64
        )
        res = xq - coarse[_encode(xq, [coarse])[:, 0]]
        _PQ_FIXED_BOOK_CACHE[key] = (
            coarse.tolist(), pq_train_codebooks_fixed(res, m=m, k=n_codes)
        )
    return _PQ_FIXED_BOOK_CACHE[key]


def ivfpq_topk_fixed(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    query_id: str, dim: int, k: int = 5, m: int = 8, n_codes: int = 16,
    n_centroids: int = 8, nprobe: int = 3, ref=None,
) -> DataFrame:
    """IVFPQ (coarse list pruning + residual PQ) in the exact int64 domain.

    Same inverted-index scale shape as the float ``ivfpq_topk`` — one
    map-side pass assigns, residual-encodes and ADC-scans, queries score
    only their nprobe lists — but every distance is an exact integer, so
    the DuckDB oracle hash-matches. Probe order ties break on centroid index
    (stable argsort == ORDER BY d, cid)."""
    import numpy as np

    if ref is None:
        ref = ivfpq_fixed_reference(
            dim=dim, m=m, n_codes=n_codes, n_centroids=n_centroids
        )
    coarse = np.asarray(ref[0], dtype=np.int64)
    books = [np.asarray(b, dtype=np.int64) for b in ref[1]]
    qids, q = _query_matrix(queries, query_id, vec_col)
    q = _quantize_fixed_np(q)
    scored = _ivfpq_scan(
        _quantized_rows(corpus, vec_col, id_col), qids, q, coarse, books,
        _nearest_lists(q, coarse, nprobe), lambda x: _encode(x, [coarse])[:, 0],
        query_id, id_col,
    )
    return _topk_per_key(scored, query_id, k, "adc_dist", F.col(id_col))


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


def _l2_scan(ids, x, qids, q, masks):
    """Exact int64 squared L2 of each query against its candidate rows
    (``masks``, one boolean row mask per query)."""
    for qid, qv, mask in zip(qids, q, masks):
        if mask.any():
            yield qid, ids[mask], ((x[mask] - qv[None, :]) ** 2).sum(axis=1)


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
    integer matmul per batch, exactly like the float path's profiled
    kernel); the bounded query set rides inside the closure, so the only
    shuffle is the final per-query top-k window over candidate rows
    (~20-30%% of the corpus per query at the test data's bit balance)."""
    import numpy as np

    bw = _part_width(bits, bands, "lsh_topk_fixed bits / bands")
    P = np.asarray(lsh_plane_ints(dim, bits), dtype=np.int64)

    def band_vals(v):  # (n, bands): sign bits of each band, little-endian
        b = (v @ P.T >= 0).astype(np.int64).reshape(len(v), bands, bw)
        return (b << np.arange(bw)).sum(axis=2)

    qids, q = _query_matrix(queries, query_id, vec_col)
    q = _quantize_fixed_np(q)
    qband = band_vals(q)

    def score(ids, x):
        cband = band_vals(x)
        yield from _l2_scan(ids, x, qids, q, ((cband == b).any(axis=1) for b in qband))

    scored = _scan(_quantized_rows(corpus, vec_col, id_col), score,
                   query_id, id_col, "l2_fixed", np.int64)
    return _topk_per_key(scored, query_id, k, "l2_fixed", F.col(id_col))


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
    qids, q = _query_matrix(queries, query_id, vec_col)
    q = _quantize_fixed_np(q)
    probes = _nearest_lists(q, coarse, nprobe)

    def score(ids, x):
        ci = _encode(x, [coarse])[:, 0]
        yield from _l2_scan(ids, x, qids, q, (np.isin(ci, p) for p in probes))

    scored = _scan(_quantized_rows(corpus, vec_col, id_col), score,
                   query_id, id_col, "l2_fixed", np.int64)
    return _topk_per_key(scored, query_id, k, "l2_fixed", F.col(id_col))


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
    return _topk_per_key(sc, query_id, k, F.desc("score"), id_col).orderBy(
        query_id, id_col
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
