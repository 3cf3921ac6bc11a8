"""Deduplication operators (north-star scope, BASELINE.json).

Exact, MinHash+LSH, SimHash, and n-gram Jaccard dedup over a text column.
Everything except SimHash is pure DataFrame ops (codegen'd, shuffle-bounded);
SimHash uses an Arrow-batched pandas UDF (bit-vote loop is not expressible
sanely in SQL).

Scale design (100 TB of documents):
- Exact: one shuffle on a 64/128-bit fingerprint — the canonical first pass.
- MinHash LSH: shingle → K minhashes → B bands; candidate generation is a
  self-join on (band_id, band_hash) buckets, i.e. a shuffle whose keys are
  *buckets*, never an all-pairs product. Skewed buckets (boilerplate docs)
  are handled by AQE skew-join splitting; a bucket-size cap guards
  pathological cases.
- Verification: candidate pairs get exact n-gram Jaccard; pairs ≪ rows.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint64, portable_hash60
from .graph import checkpoint_round, round_rule
from .relational import assert_small

# Mersenne prime 2^31-1: modulus for the universal-hash family. 31-bit so
# h*a + b stays well inside int64 (Spark 4 runs ANSI mode: overflow throws).
_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the min-id row.
    Returns (fingerprint, keep_id, dups)."""
    return (
        df.select(fingerprint64(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dups"))
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) from a text column.

    Built by zip_with over shifted slices — each array input is evaluated
    once per row. (The tempting transform(sequence(...), i ->
    array_join(slice(toks, i, n))) form re-evaluates the token array inside
    the lambda for every index — O(tokens²) per document.)"""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    nn = F.size(toks)
    z = toks
    for k in range(1, n):
        z = F.zip_with(
            z,
            F.slice(toks, k + 1, F.greatest(nn - k, F.lit(1))),
            lambda x, y: F.concat_ws(" ", x, y),  # concat_ws skips the
        )                                          # null padding on short docs
    return F.array_distinct(F.slice(z, 1, F.greatest(nn - (n - 1), F.lit(1))))


def gram_hash_seq(text: Column, n: int = 3) -> Column:
    """POSITIONAL n-gram hash sequence in [0, P): tokens hashed ONCE
    (portable md5-60 — a DuckDB oracle can replay the exact values),
    consecutive hashes combined arithmetically (h1·a + h2 mod P rolling) —
    no shingle strings are ever materialized, every step linear in document
    length. Order-preserving (no distinct): position i holds the hash of
    the gram starting at token i."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    th = F.transform(toks, lambda s: portable_hash60(s) % F.lit(_P))
    nn = F.size(th)
    z = th
    for k in range(1, n):
        z = F.zip_with(
            z,
            F.slice(th, k + 1, F.greatest(nn - k, F.lit(1))),
            # coalesce: short docs keep a partial-gram hash instead of null
            lambda x, y: (x * 524287 + F.coalesce(y, F.lit(0))) % F.lit(_P),
        )
    return F.slice(z, 1, F.greatest(nn - (n - 1), F.lit(1)))


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct n-gram hashes (the set form of ``gram_hash_seq``) — the
    scale form backing MinHash."""
    return F.array_distinct(gram_hash_seq(text, n))


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS,
    SIGMOD'03): the set of minima over every w-gram window of the positional
    k-gram hash sequence. Guarantee: any shared run of >= w+k-1 tokens
    between two documents contributes at least one shared fingerprint, while
    only ~2/(w+1) of grams are kept.

    All codegen: the running window-min is a chain of w-1 zip_with/least
    passes over shifted slices — O(n·w) per row with each input array
    evaluated once (an index-lambda form re-evaluates the array per
    element: O(n²))."""
    seq = gram_hash_seq(text, k)
    m = F.size(seq)
    z = seq
    for j in range(1, w):
        z = F.zip_with(
            z,
            F.slice(seq, j + 1, F.greatest(m - j, F.lit(1))),
            lambda x, y: F.least(x, y),  # least skips the null padding
        )
    return F.array_distinct(F.slice(z, 1, F.greatest(m - (w - 1), F.lit(1))))


def winnow_neardup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    threshold: float = 0.3,
    max_bucket: int = 1000,
    round_to: int | None = 6,
) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint Jaccard.
    ``round_to=None`` returns the raw double (callers deriving an
    engine-invariant integer surrogate must floor the unrounded value).

    Sub-quadratic like LSH: candidates come from a self-join on shared
    fingerprints (bucket keys), never an all-pairs product; ``max_bucket``
    drops boilerplate fingerprints whose buckets would blow up
    quadratically. Jaccard over the winnowed SETS approximates gram-set
    Jaccard (winnowing samples ~2/(w+1) of grams uniformly by hash order).
    Returns (id_a, id_b, sim), id_a < id_b.
    """
    fps = df.select(
        F.col(id_col).alias("__id"),
        winnow_fingerprints(F.col(text_col), k, w).alias("__fps"),
    ).withColumn("__nf", F.size("__fps"))
    ex = fps.select("__id", F.explode("__fps").alias("__fp"))
    # one shuffle keyed on fingerprint; singleton buckets (most of them)
    # and hot boilerplate buckets die before any id LIST is built — the
    # size filter is a count window under the collect_list, bounding
    # every aggregation buffer at max_bucket ids (r14 §5, same bounding
    # as minhash_lsh_candidates / embedding_neardup_lsh)
    wfp = Window.partitionBy("__fp")
    ok = (
        ex.withColumn("__n", F.count("*").over(wfp))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket))
        .groupBy("__fp")
        .agg(F.collect_list("__id").alias("__ids"))
    )
    counted = (
        bucket_id_pairs(ok, "__ids")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))  # per-doc fps are distinct
    )
    nf = fps.select("__id", "__nf")
    shared = (
        counted.join(
            nf.withColumnsRenamed({"__id": "id_a", "__nf": "na"}), "id_a"
        )
        .join(nf.withColumnsRenamed({"__id": "id_b", "__nf": "nb"}), "id_b")
    )
    sim = F.col("shared") / (
        F.col("na") + F.col("nb") - F.col("shared")
    ).cast("double")
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        shared.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def minhash_signature(text: Column, num_hashes: int = 32, shingle_n: int = 3) -> Column:
    """MinHash signature as a single column expression: for hash j, min over
    shingles of (a_j*h(s)+b_j) mod p — a universal-hash MinHash family,
    deterministic (fixed a_j/b_j derived from j).

    NOTE: expression form only for single-column composition — Catalyst's
    project-collapse re-inlines the shingle-hash subexpression into each of
    the num_hashes branches (num_hashes × linear re-evaluations per row).
    The table-scale path is ``minhash_signatures_df``: one explode + one
    two-phase aggregate."""
    base = shingle_hashes(text, shingle_n)

    def perm(a: int, b: int):
        # closure factory: a default-arg lambda would change pyspark's
        # inferred lambda arity
        return lambda h: (h * a + b) % F.lit(_P)

    sigs = []
    for j in range(num_hashes):
        hashed = F.transform(base, perm(2 * j + 1, 9973 * (j + 1)))
        sigs.append(F.array_min(hashed))
    return F.array(*sigs)


def minhash_signatures_df(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 32, shingle_n: int = 3,
) -> DataFrame:
    """Scalable MinHash: ``shingle_hashes`` (tokens hashed once, grams
    combined arithmetically — no shingle strings) → explode → groupBy(id)
    with num_hashes cheap min-aggregates (map-side
    partial aggregation ⇒ the shuffle carries num_hashes longs per doc, not
    the shingles). Returns (id, __sig array<long>).

    At 100 TB: rows after explode = total shingles, a narrow long column;
    the aggregate is the same shape as any big groupBy — AQE-coalesced,
    skew-safe (hot docs don't exist: one group per doc_id)."""
    exploded = df.select(
        F.col(id_col),
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("__h"),
    )
    aggs = [
        F.min((F.col("__h") * (2 * j + 1) + 9973 * (j + 1)) % F.lit(_P)).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    per_doc = exploded.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        id_col, F.array(*[f"__m{j}" for j in range(num_hashes)]).alias("__sig")
    )


def neardup_dup_summary(verified: DataFrame) -> DataFrame:
    """Fold a verified near-dup pair relation ``(id_a, id_b, jaccard)``
    into the per-new-doc dup summary ``(doc_id, n_dups, best_match_id,
    best_j_e6)`` — best match = max jaccard, tie -> min id, jaccard
    floored to e6. ONE shared implementation for the batch
    ★minhash_incremental_resume query and its streaming twin
    (``streaming.dedup.incremental_resume_summary``) so the certified
    fold and the streamed one cannot drift (same rationale as
    ``banded_sig_keys``)."""
    from pyspark.sql import Window

    verified = verified.select("id_a", "id_b", "jaccard")
    w = Window.partitionBy("id_a").orderBy(F.desc("jaccard"), F.col("id_b"))
    ranked = verified.withColumn("rn", F.row_number().over(w))
    return (
        verified.groupBy("id_a").agg(F.count("*").alias("n_dups"))
        .join(ranked.filter("rn = 1"), "id_a")
        .select(
            F.col("id_a").cast("long").alias("doc_id"),
            F.col("n_dups").cast("long").alias("n_dups"),
            F.col("id_b").cast("long").alias("best_match_id"),
            F.floor(F.col("jaccard") * 1e6).cast("long").alias("best_j_e6"),
        )
    )


def banded_sig_keys(
    sigs: DataFrame, idname: str, id_col: str = "doc_id",
    num_hashes: int = 32, bands: int = 16,
) -> DataFrame:
    """Explode a ``(id, __sig)`` relation into ``(idname, band_id,
    band_val)`` LSH bucket keys — the banding stage shared by the batch
    ★minhash_incremental_resume query and its streaming twin
    (``streaming.dedup.incremental_neardup_stream``), factored out so the
    certified banding and the streamed one cannot drift. ``band_val`` is
    the comma-joined string of the band's rows (num_hashes/bands
    signature slots). ``num_hashes`` must divide evenly into ``bands`` —
    a truncating split would silently band on a PREFIX of the signature,
    weakening LSH recall with no signal (r11 advice)."""
    if num_hashes % bands:
        raise ValueError(
            f"banded_sig_keys: num_hashes={num_hashes} is not divisible "
            f"by bands={bands}; {num_hashes % bands} trailing signature "
            "slots would be silently ignored"
        )
    rows = num_hashes // bands
    return sigs.select(
        F.col(id_col).alias(idname),
        F.posexplode(
            F.array(*[
                F.concat_ws(",", *[
                    F.element_at("__sig", b * rows + r + 1).cast("string")
                    for r in range(rows)
                ])
                for b in range(bands)
            ])
        ).alias("band_id", "band_val"),
    )


def minhash_features(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 32, shingle_n: int = 3,
) -> DataFrame:
    """(id, __sig array<long>, __sh array<long>) — MinHash signature AND the
    distinct gram-hash set, computed map-side in ONE Arrow pass (mapInPandas,
    numpy). No shingle explode, no signature shuffle: the only exchange a
    downstream LSH pipeline pays is the band-bucket join itself.

    This is the hot-path twin of ``minhash_signatures_df`` (the pure-SQL
    explode + 32-min-agg form, kept for composition and plan tests). The
    profile that motivated it: the gram-hash chain is higher-order-function
    territory (CodegenFallback — interpreted per token), and every branch of
    the dedup DAG (hot-bucket count, both self-join sides, both verify
    joins) re-evaluates it; here each batch is one vectorized numpy pass,
    cheap enough that re-evaluation is noise.

    Hash family: crc32(token) mod P (deterministic across workers — Python's
    builtin str hash is salted per process and must never be used here),
    grams = rolling ``h*524287 + h_next mod P`` over ``shingle_n`` tokens,
    padding 0 past the doc end, min of ``(2j+1)·g + 9973(j+1) mod P`` per
    hash j — the same universal family as the SQL form (values differ only
    through the token hash; every consumer is hash-agnostic: Jaccard over
    any injective-enough gram hash equals Jaccard over gram strings).

    Boundary: ``mapInArrow`` (r14 optimization pass, guide §4.2). The
    former ``mapInPandas`` form paid a pandas materialization on both
    sides of the kernel — object-Series for the input strings, and a
    per-row list-of-ndarray -> Arrow list conversion for the output
    arrays. The kernel already produces exactly Arrow's list layout
    (one flat value buffer + offsets: ``g``/``gstarts`` for the gram
    sets, a row-major matrix for the signatures), so the Arrow arrays
    are now built directly from those buffers with no per-row work.
    Measured 0.55 -> 0.42 s for the sf0.1 corpus featurize (bit-identical
    output, pinned by the parity tests). Second r14 pass: tokenization
    moved to Arrow RE2 + per-DISTINCT-token Python hashing via
    ``dictionary_encode`` (0.60 -> 0.43 s median same-box A/B,
    bit-identical on the full corpus and on adversarial unicode rows;
    the win grows with the corpus/vocabulary ratio at scale)."""
    import zlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n, P = shingle_n, _P
    schema = f"{id_col} long, __sig array<long>, __sh array<long>"

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # Tokenize in Arrow, hash in Python only once per DISTINCT
            # token (r14 second pass, guide §4.2): the former per-doc
            # ``re.split`` + per-token dict-lookup loop was the kernel's
            # hot half — tokens repeat heavily in any real corpus, so
            # ``dictionary_encode`` collapses the Python work to the
            # vocabulary while RE2 does the splitting natively.
            # Semantics are IDENTICAL to the former
            # ``re.split(r"[ \t\n\x0b\f\r]+", (s or "").lower().strip(" "))``:
            # the regex class is the exact Java \s set (mirrors
            # split(trim(lower(text)), '\s+') for ANY input, not just
            # ASCII corpora), RE2 and re agree on it including the empty
            # boundary tokens the SQL form keeps (split never returns [],
            # which keeps the old `or [hash("")]` fallback structural),
            # and lowercasing per TOKEN with Python str.lower after the
            # split equals lowering the whole string first — Unicode
            # lowercase never produces or consumes a character of the
            # split class (pinned with the split-parity property test).
            txt = pc.fill_null(batch.column(1), "")
            tok_lists = pc.split_pattern_regex(
                pc.utf8_trim(txt, " "), "[ \t\n\x0b\f\r]+"
            )
            lens = pc.list_value_length(tok_lists).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            enc = pc.list_flatten(tok_lists).dictionary_encode()
            uniq = enc.dictionary.to_pylist()
            uh = np.fromiter(
                (zlib.crc32(t.lower().encode()) % P for t in uniq),
                dtype=np.int64, count=len(uniq),
            )
            toks = uh[enc.indices.to_numpy(zero_copy_only=False)]
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            doc_of = np.repeat(np.arange(len(lens)), lens)
            grams = toks.copy()
            for k in range(1, n):
                nxt = np.zeros_like(toks)
                nxt[:-k] = toks[k:]
                nxt[:-k][doc_of[k:] != doc_of[:-k]] = 0
                grams = (grams * 524287 + nxt) % P
            # first max(len - (n-1), 1) positions of each doc hold its grams
            keep = (np.arange(len(toks)) - starts[doc_of]) < np.maximum(
                lens - (n - 1), 1
            )[doc_of]
            # distinct (doc, gram) via one sort: gram < 2^31 so the pair
            # packs into an int64 key
            key = np.unique((doc_of[keep] << np.int64(31)) | grams[keep])
            gdoc, g = key >> np.int64(31), key & np.int64((1 << 31) - 1)
            gstarts = np.searchsorted(gdoc, np.arange(len(lens)))
            sig = np.empty((len(lens), num_hashes), dtype=np.int64)
            for j in range(num_hashes):
                sig[:, j] = np.minimum.reduceat(
                    (g * (2 * j + 1) + 9973 * (j + 1)) % P, gstarts
                )
            # zero-copy assembly: signatures are a fixed-stride matrix,
            # gram sets are exactly (offsets=gstarts, values=g)
            sig_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(sig.ravel(), type=pa.int64()), num_hashes
            ).cast(pa.list_(pa.int64()))
            sh_arr = pa.ListArray.from_arrays(
                pa.array(np.append(gstarts, len(g)).astype(np.int32),
                         type=pa.int32()),
                pa.array(g, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), sig_arr, sh_arr],
                names=[id_col, "__sig", "__sh"],
            )

    return df.select(id_col, text_col).mapInArrow(gen, schema)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 1000,
    features: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs.

    Returns (id_a, id_b) with id_a < id_b, distinct. Bucket key is
    (band_id, band_hash); ``max_bucket`` drops degenerate buckets (e.g. empty
    documents) whose quadratic blowup would dominate at scale.

    ``features`` lets callers share one ``minhash_features`` relation between
    candidate generation and verification.

    Shape: ONE shuffle keyed by (band_id, band_hash) — a count window drops
    singleton buckets and buckets over ``max_bucket`` before
    ``collect_list``, and ``bucket_id_pairs`` expands each surviving id
    list into its (id_a < id_b) pairs with array expressions — plus the
    small distinct on pairs. Skew safety: a bucket is at most
    ``max_bucket`` ids — bounded memory per group."""
    rows_per_band = num_hashes // bands
    if features is None:
        features = minhash_features(df, text_col, id_col, num_hashes)
    sig = features.select(F.col(id_col).alias("__id"), "__sig")
    banded = sig.select(
        "__id",
        F.posexplode(
            F.array(*[
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice("__sig", b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                )
                for b in range(bands)
            ])
        ).alias("band_id", "band_hash"),
    )
    # singleton buckets (the overwhelming majority — unique band hashes)
    # and hot buckets die BEFORE any id list is materialized: the size
    # filter is a count window under the collect_list, so no aggregation
    # buffer ever holds more than max_bucket ids — the window's own
    # partition buffer spills, collect_list's cannot (r14: the same §5
    # hot-bucket bounding as embedding_neardup_lsh; measured equal-or-
    # faster at sf0.1 with identical pairs — the map-side partial
    # collect_list on almost-unique band keys was pure overhead)
    wb = Window.partitionBy("band_id", "band_hash")
    ok = (
        banded.withColumn("__n", F.count("*").over(wb))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket))
        .groupBy("band_id", "band_hash")
        .agg(F.collect_list("__id").alias("__ids"))
    )
    return bucket_id_pairs(ok, "__ids").distinct()


def bucket_id_pairs(buckets: DataFrame, ids_col: str) -> DataFrame:
    """Expand an array-of-ids bucket column into every (id_a < id_b) pair —
    pure array expressions (a per-group pandas kernel dies on the per-group
    overhead when buckets number in the hundreds of thousands; measured 20×
    slower than this form at sf0.1). ``ids`` is a plain column reference, so
    the nested lambdas do not re-trigger upstream evaluation."""
    ids = F.array_sort(F.col(ids_col))
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("__p")).select(
        "__p.id_a", "__p.id_b"
    )


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame, text_col: str,
                  id_col: str, n: int = 3) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity.
    df_pairs: (id_a, id_b); docs: the document table."""
    sh = docs.select(
        F.col(id_col).alias("__id"), shingles(F.col(text_col), n).alias("__sh")
    )
    j = (
        df_pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select("id_a", "id_b", (inter / union).alias("jaccard"))


def ngram_jaccard_hashed(df_pairs: DataFrame, docs: DataFrame, text_col: str,
                         id_col: str, n: int = 3) -> DataFrame:
    """Jaccard verify over gram *hashes* (shingle_hashes) instead of gram
    strings — same set semantics up to a ~n²/2³¹ collision probability, no
    string materialization. The scale path for verify; ``ngram_jaccard``
    stays as the exact-string (oracle-matched) form."""
    sh = docs.select(
        F.col(id_col).alias("__id"), shingle_hashes(F.col(text_col), n).alias("__sh")
    )
    j = (
        df_pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select("id_a", "id_b", (inter / union).alias("jaccard"))


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """SimHash near-dup signature: 64-bit weighted-bit-vote over token hashes.

    The bit-vote loop is not sanely SQL-expressible → Arrow-batched pandas
    UDF (the engine's sanctioned Python path). Deterministic: blake2b token
    hashes, no RNG. Returns (id, simhash, band16_0..3) where the 16-bit bands
    are the LSH bucketing keys (near-dups share ≥1 band with high prob)."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    _weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        # per-Arrow-batch token cache: real corpora share most of their
        # vocabulary across documents, so each distinct token is hashed and
        # bit-unpacked once per batch, and the per-document work is one
        # vectorized vote sum
        cache: dict[str, np.ndarray] = {}

        def bits_of(tok: str) -> np.ndarray:
            b = cache.get(tok)
            if b is None:
                h = hashlib.blake2b(tok.encode(), digest_size=8).digest()
                b = np.unpackbits(
                    np.frombuffer(h, dtype=np.uint8), bitorder="little"
                )
                cache[tok] = b
            return b

        out = np.empty(len(texts), dtype=np.int64)
        for k, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                out[k] = 0
                continue
            ones = np.sum([bits_of(tok) for tok in toks], axis=0, dtype=np.int64)
            # majority vote: +1/-1 sum > 0  ⟺  2·ones > n (ties → bit 0)
            sig_bits = (2 * ones > len(toks)).astype(np.uint64)
            out[k] = (sig_bits * _weights).sum().astype(np.uint64).view(np.int64)
        return pd.Series(out)

    sig = df.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))
    bands = [
        (F.shiftrightunsigned("simhash", 16 * i) % F.lit(1 << 16)).alias(f"band16_{i}")
        for i in range(4)
    ]
    return sig.select(id_col, "simhash", *bands)


def winnow_neardup_oracle(
    k: int = 3, w: int = 4, threshold: float = 0.3,
) -> str:
    """DuckDB SQL replaying ``winnow_neardup`` (portable gram hashes →
    window minima → fingerprint self-join → set Jaccard) with the
    engine-invariant integer surrogate ``sim_micro = floor(sim * 1e6)``
    computed on the identical IEEE double in both engines."""
    P = _P
    th = (
        "list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {P})"
    )
    # rolling gram combine, 0-padded past the doc end (mirrors the
    # zip_with/slice chain): position i holds hash of tokens i..i+k-1
    g = "th[i]"
    for step in range(1, k):
        g = f"(({g}) * 524287 + coalesce(th[i+{step}], 0)) % {P}"
    wmin = ", ".join(f"seq[i+{j}]" for j in range(w))
    return f"""
    WITH base AS (
      SELECT doc_id, {th} AS th FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(th) - {k - 1}, 1) + 1),
                            i -> {g}) AS seq
      FROM base
    ), f AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(seq) - {w - 1}, 1) + 1),
               i -> least({wmin}))) AS fps
      FROM g
    ), e AS (
      SELECT doc_id, len(fps) AS nf, unnest(fps) AS fp FROM f
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor((COUNT(*) / CAST(a.nf + b.nf - COUNT(*) AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS sim_micro
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.nf, b.nf
    HAVING (COUNT(*) / CAST(a.nf + b.nf - COUNT(*) AS DOUBLE)) >= {threshold}
    """


def simhash_portable(
    df: DataFrame, text_col: str, id_col: str, bits: int = 60, bands: int = 4,
) -> DataFrame:
    """SimHash as pure relational algebra — the oracle-able twin of
    ``simhash64`` (whose blake2b bit-vote loop lives in a pandas UDF that no
    SQL engine can replay). 60-bit signature from the portable md5 token
    hash: explode tokens → per-(doc, token) counts → one aggregate with
    ``bits`` conditional vote-sums (bit b votes +w if set, -w if not) →
    sign-reassemble. Returns (id, simhash, band15_0..band15_{bands-1}).

    Semantics match simhash64: occurrence-weighted majority vote, strict
    (ties → 0 bit). Scale shape: two map-side-combinable aggregations keyed
    by (doc, token) then doc — the shuffle carries token counts, then
    ``bits`` longs per doc; no Python in the path. Bands are contiguous
    15-bit slices, the LSH bucket keys."""
    if bands <= 0 or bits % bands:
        raise ValueError(f"simhash_portable: {bits} bits do not split into {bands} equal bands")
    bw = bits // bands
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("__tok"),
    )
    tw = toks.groupBy(id_col, "__tok").agg(F.count("*").alias("__w"))
    h = tw.withColumn("__h", portable_hash60(F.col("__tok")))
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned("__h", b) % 2 == 1, F.col("__w"))
            .otherwise(-F.col("__w"))
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    band_exprs = []
    for i in range(bands):
        band = None
        for j in range(bw):
            term = F.when(
                F.col(f"__v{i * bw + j}") > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            band = term if band is None else band + term
        band_exprs.append(band.cast("long").alias(f"band15_{i}"))
    sig = agg.select(id_col, *band_exprs)
    simhash = None
    for i in range(bands):
        part = F.col(f"band15_{i}") * F.lit(1 << (bw * i))
        simhash = part if simhash is None else simhash + part
    return sig.select(
        id_col, simhash.cast("long").alias("simhash"),
        *[f"band15_{i}" for i in range(bands)],
    )


def simhash_portable_oracle(bits: int = 60, bands: int = 4) -> str:
    """DuckDB SQL replaying ``simhash_portable`` on the documents table."""
    bw = bits // bands
    vote_cols = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN w ELSE -w END) AS v{b}"
        for b in range(bits)
    )
    band_cols = ",\n      ".join(
        "CAST(("
        + " + ".join(
            f"(CASE WHEN v{i * bw + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(bw)
        )
        + f") AS BIGINT) AS band15_{i}"
        for i in range(bands)
    )
    simhash = " + ".join(f"band15_{i} * {1 << (bw * i)}" for i in range(bands))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ), tw AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h,
             COUNT(*) AS w
      FROM toks GROUP BY doc_id, tok
    ), votes AS (
      SELECT doc_id,
      {vote_cols}
      FROM tw GROUP BY doc_id
    ), sig AS (
      SELECT doc_id,
      {band_cols}
      FROM votes
    )
    SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash,
           {", ".join(f"band15_{i}" for i in range(bands))}
    FROM sig
    """


def minhash_verified_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float,
    num_hashes: int = 32, bands: int = 8,
) -> DataFrame:
    """Near-duplicate edges ``(id_a, id_b, jaccard)``: MinHash-LSH
    candidates, verified by Jaccard over each doc's hashed gram set, kept
    at ``jaccard >= threshold``. The edge builder of ``minhash_dedup`` and
    of ``dedup_clusters``' LSH path.

    One ``minhash_features`` pass feeds both the band join and the verify
    joins; the verify reads the already-computed gram-hash sets instead of
    re-deriving grams from text (``ngram_jaccard_hashed`` stays as the
    standalone form for externally-supplied pairs). Jaccard over the
    hashed sets is value-identical to the string-shingle form up to hash
    collisions (~n²/2³¹ per pair; verified exactly equal — sets AND
    values — at sf0.1; dedup_clusters' edge build measured 1.57 -> 1.23 s
    at sf0.1 against the string-shingle verify).

    The features relation is materialized once via ``localCheckpoint``:
    three plan branches consume it (the band join and both verify joins),
    and without it each branch re-runs the Arrow featurize pass over the
    full corpus — Spark only reuses exchanges, not arbitrary subtrees.
    localCheckpoint over ``.persist()`` because checkpointed RDDs are
    reclaimed by the ContextCleaner once unreferenced, while DataFrame
    caches live in the CacheManager until explicitly unpersisted — on a
    shared session running many queries that's a leak. At cluster scale the
    same role is played by materializing features to storage once per
    corpus.

    The features are NOT pruned to candidate ids before the verify: the
    r13 A/B measured the semi-join prune slower at every bench SF
    (1.55 -> 1.71 s); on a cluster where candidate docs are a vanishing
    fraction of the corpus the prune becomes the right call — see
    OPTIMIZATION_r13.md for the recorded experiment."""
    feats = minhash_features(df, text_col, id_col, num_hashes).localCheckpoint(
        eager=True
    )
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, features=feats
    )
    sh = feats.select(F.col(id_col).alias("__id"), "__sh")
    j = (
        cands
        .join(sh.withColumnsRenamed({"__id": "id_a", "__sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"__id": "id_b", "__sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "id_a", "id_b", (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8,
    num_hashes: int = 32, bands: int = 8,
) -> DataFrame:
    """Full near-dedup: LSH candidates → Jaccard verify
    (``minhash_verified_pairs``) → keep min-id winner per connected pair
    (single-link, one hop — ``dedup_clusters`` does the full transitive
    closure)."""
    verified = minhash_verified_pairs(
        df, text_col, id_col, threshold, num_hashes, bands
    )
    # no distinct on losers: left_anti is set-semantic on the probe side
    # already, so deduplicating first would only add an exchange
    losers = verified.select(F.col("id_b").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation: each node
    repeatedly takes the minimum component id among itself and its
    neighbors; converges in O(graph diameter) rounds. Cheapest per round
    (one join + one agg), the right engine for real dup graphs, whose
    components are shallow (near-clique families; measured diameters are
    single-digit). If the diameter exceeds ``max_iter`` it ESCALATES to
    ``_cc_star_contraction`` (alternating large-star/small-star, Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    O(log^2 n) rounds regardless of diameter) over the original edges
    plus the partial labels as shortcut edges, and still returns exact
    components — never a possibly-split labeling. Chain-shaped graphs
    (quote-chains, boilerplate series) therefore cost ``max_iter``
    propagation rounds before the escalation takes over.

    This is the transitive-closure step minhash_dedup's single-hop keep-rule
    deliberately skips (dup clusters are chains: A~B~C with A≁C). Returns
    (node, comp) for every node incident to an edge; comp = min node id in
    the component.

    Scale shape: per round, one join of the (2·|E|) undirected edge list
    against the label table keyed by node, one min-aggregate, then ONE
    label join computing the new label AND the per-node changed flag in
    the same pass — the same shuffle pattern GraphX/GraphFrames CC uses,
    minus the separate convergence-check join (r6: the flag rides on the
    checkpointed result, so detecting convergence is a checkpoint-local
    filter/limit, not another shuffle). ``localCheckpoint`` truncates the
    growing lineage each round (iterative plans otherwise re-derive every
    prior round).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the undirected edge list ONCE: every propagation round
    # joins against it, and an unmaterialized edge relation re-executes
    # its whole upstream subtree (LSH candidates + Jaccard verify in the
    # dedup pipeline) per round — measured 836 s vs ~150 s at the 100x
    # dense stress (27M edges, ~5 rounds re-running a 114 s verify)
    und, seen = checkpoint_round(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        n=F.approx_count_distinct("a"),
    )
    # The label table and the per-round neighbor-min table are both
    # O(nodes) — they take graph.round_rule's join hint: broadcast into
    # the round's two joins while they fit an executor, shuffled joins
    # above the threshold. Only the hint: every round is checkpointed
    # anyway, for its convergence metric. The threshold tests the NODE
    # count (approx_count_distinct observed during the checkpoint job
    # itself — no separate job): r13 tested
    # the edge count as a free conservative bound, and the r14 sf1 spot
    # bench showed that conservatism is a cliff on dense graphs (edges
    # past the threshold with nodes far below it silently fell onto the
    # shuffled path — pagerank measured 27 s vs ~4 s for exactly this).
    # Measured at sf0.1 (256-edge dup graph, 2 rounds): 1.11 -> 0.85 s
    # for the CC loop — at that scale the win is all removed
    # exchange/task overhead; at 100 TB the broadcast skips shuffling
    # the edge list per round until nodes outgrow the threshold.
    label_join = round_rule(seen["n"]).hint
    converged = False
    labels: DataFrame | None = None
    for _ in range(max_iter):
        if labels is None:
            # Round 1 fused (r14): labels_0 is the identity (comp ==
            # node), so nbr_min is just min-neighbor-id and the label
            # update needs no join at all — one aggregate replaces the
            # initial label checkpoint, the round-1 broadcast build and
            # the label join. Every node of und appears as `a` (the
            # list is bidirectional), so the aggregate covers the full
            # node set; the initial distinct-labels table is subsumed.
            new_labels = und.groupBy(F.col("a").alias("node")).agg(
                F.min("b").alias("__m")
            ).select(
                "node",
                F.least("node", "__m").alias("comp"),
                (F.col("__m") < F.col("node")).alias("__ch"),
            )
        else:
            nbr_min = (
                und.join(
                    label_join(labels.withColumnRenamed("node", "b")), "b"
                )
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("comp").alias("__m"))
            )
            new_labels = (
                labels.join(label_join(nbr_min), "node", "left")
                .select(
                    "node",
                    F.least("comp", "__m").alias("comp"),
                    (F.col("__m") < F.col("comp")).alias("__ch"),
                )
            )
        # convergence detection rides the checkpoint job as an observed
        # metric (r14): the separate filter/limit/count probe was two
        # extra jobs per round of pure scheduling overhead
        new_labels, seen = checkpoint_round(
            new_labels, ch=F.count_if(F.col("__ch"))
        )
        labels = new_labels.drop("__ch")
        if seen["ch"] == 0:
            converged = True
            break
    if not converged:
        # A chain-shaped graph with diameter > max_iter would return
        # split clusters — ESCALATE to the diameter-independent star
        # contraction and finish exactly instead of warning (the r8
        # verdict's last silent-wrong-answer path in the dedup family).
        # The partial labels are within-component shortcut edges, so
        # connectivity is preserved by unioning them with the original
        # edges — the shortcuts let the contraction start from the work
        # propagation already paid instead of from scratch. (The label
        # edges ALONE would not be safe: node->min-of-t-ball pointers
        # can drop connectivity on adversarial shapes.)
        aug = und if labels is None else und.union(
            labels.filter(F.col("node") != F.col("comp"))
            .select(F.col("node").alias("a"), F.col("comp").alias("b"))
        )
        # max_iter=1000 is a pure runaway backstop here, not a tuning
        # knob: O(log^2 n) rounds for any feasible graph is double-digit,
        # and _cc_star_contraction RAISES (never returns partial labels)
        # if the backstop is ever hit — so the escalation path either
        # returns exact components or fails loudly, keeping the
        # "never a possibly-split labeling" guarantee strict.
        return _cc_star_contraction(aug, "a", "b", max_iter=1000)
    return labels


def _cc_star_contraction(
    edges: DataFrame, src: str, dst: str, max_iter: int = 30,
) -> DataFrame:
    """The escalation engine of ``connected_components``: alternating
    large-star/small-star (Kiveris et al., SoCC'14, Algorithm 3).

    Invariant: the edge set's connectivity (and each component's minimum
    node) is preserved by both operations; at the fixed point the edge set
    is a forest of stars, each rooted at its component's minimum. Rounds
    are O(log^2 n) worst-case independent of diameter — the upgrade over
    min-label propagation for path-shaped graphs.

    Per round: large-star = one grouped min + one join back; small-star =
    the same on the high->low orientation; then a distinct to keep the
    edge list set-semantic and a localCheckpoint to truncate lineage.
    Convergence = the (checkpointed, bounded) edge set is a fixed point,
    detected EXACTLY via count + one-sided exceptAll — no hash-signature
    shortcut that could stop early on a collision."""
    # edge-set cardinality rides each checkpoint job as an observed
    # metric (r14): the separate count jobs were pure scheduling overhead
    E, seen = checkpoint_round(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    # contract parity with propagation: a node whose ONLY edges are
    # self-loops is still "incident to an edge" and must come out as its
    # own singleton component — the u != v filter above would otherwise
    # drop it from the output entirely
    loop_singletons = (
        edges.filter(F.col(src) == F.col(dst))
        .select(F.col(src).alias("node"))
        .distinct()
        .join(
            E.select(F.col("u").alias("node"))
            .union(E.select(F.col("v").alias("node"))),
            "node", "left_anti",
        )
        .select("node", F.col("node").alias("comp"))
    )
    n_prev = seen["n"]
    converged = False
    for _ in range(max_iter):
        # ---- large-star: ∀u, m = min(Γ(u) ∪ {u}); emit (v, m) ∀v∈Γ(u), v>u
        und = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (
            und.groupBy("u").agg(F.min("v").alias("__mb"))
            .select("u", F.least("u", "__mb").alias("__m"))
        )
        large = (
            und.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star on high->low edges: ∀u, m = min(Γ⁻(u));
        #      emit (v, m) ∀v∈Γ⁻(u)∪{u}\{m}
        dirhl = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smin = dirhl.groupBy("u").agg(F.min("v").alias("__m"))
        E_new, seen = checkpoint_round(
            dirhl.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .union(smin.select("u", F.col("__m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            n=F.count(F.lit(1)),
        )
        n_new = seen["n"]
        # exact fixed-point test: same cardinality + no edge of E_new
        # outside E (both are distinct sets, so this implies equality)
        if n_new == n_prev and E_new.exceptAll(E).limit(1).count() == 0:
            E = E_new
            converged = True
            break
        E, n_prev = E_new, n_new
    if not converged:
        # Raise, never return: partial star-forest labels can be SPLIT
        # components, and this engine is the exactness escalation target
        # for propagation — a warning with a wrong answer attached would
        # reintroduce the silent-split path the escalation exists to
        # close. O(log^2 n) rounds is double-digit for any feasible
        # graph, so hitting the cap means a bug or an absurd max_iter.
        raise RuntimeError(
            f"connected_components star contraction: not converged after "
            f"{max_iter} rounds (O(log^2 n) expected — raise max_iter); "
            "refusing to return a possibly-split labeling"
        )
    # stars: (member, root) edges with root < member; roots label themselves;
    # self-loop-only nodes rejoin as singletons (parity with propagation)
    return E.select(F.col("u").alias("node"), F.col("v").alias("comp")).union(
        E.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    ).distinct().union(loop_singletons)


def dedup_clusters(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5,
    exact_pairs: bool = False, num_hashes: int = 32, bands: int = 8,
    max_iter: int = 20, max_exact_rows: int = 25_000,
    contract_exact: bool = True,
) -> DataFrame:
    """Full transitive near-dedup: similar pairs → connected components →
    (doc, cluster_id, cluster_size). Default edges come from MinHash-LSH
    candidates + exact Jaccard verify (the 100 TB path). ``exact_pairs=True``
    builds edges from exact all-pairs Jaccard — the DuckDB-oracleable
    baseline, quadratic, hard-gated by ``max_exact_rows`` so it can never run
    on a production corpus; output is identical wherever LSH recall is 1
    (pinned by tests/test_operators.py LSH-vs-exact agreement).

    ``contract_exact`` (DEFAULT ON since r6): collapse byte-identical
    texts to one representative (min id) BEFORE pair expansion, cluster
    the representatives, then map members back. Output is IDENTICAL —
    identical texts have Jaccard 1, so an exact-dup group always lands
    in one cluster, and cluster_id = min member id is preserved because
    each representative is its group's min. The 100x stress run
    (SCALE.md) showed why this matters: a k-sized family of identical
    docs otherwise contributes O(k^2) verified edges; contraction makes
    it O(1) before the expensive stage. Adaptive escape: if the family
    probe finds NO byte-identical group (common for already-exact-deduped
    corpora — the r6 perturbed-100x stress), the plain path runs directly:
    the probe still pays one full text-keyed shuffle + materialization of
    the corpus (released immediately below), but skips the recursive call
    and the join-back.

    Clustering is ``connected_components``' default min-label propagation,
    which escalates to star contraction past ``max_iter`` rounds, so a
    chain-shaped dup graph still gets exact clusters."""
    if contract_exact:
        # ONE shuffle of (id, text) keyed on the text: the window computes
        # the representative (min id) and the family size in the same pass
        # that the old groupBy+join-back pair spent two text-keyed
        # exchanges on
        wt = Window.partitionBy(text_col)
        # the family-existence probe rides the checkpoint job as an
        # observed metric (r14): the separate filter/limit/count probe
        # was two extra jobs of scheduling overhead per call
        base, seen = checkpoint_round(
            df.select(id_col, text_col)
            .withColumn("__rep", F.min(id_col).over(wt))
            .withColumn("__grp_n", F.count("*").over(wt)),
            fam=F.count_if(F.col("__grp_n") > 1),
        )
        if seen["fam"] == 0:
            # no exact-dup family anywhere: contraction is a no-op —
            # release the checkpointed probe relation (the plain path
            # below never touches it) and fall through on the original.
            # (r13 optimization pass: an xxhash64-fingerprint existence
            # probe BEFORE the window — skipping this full text-keyed
            # shuffle on exact-deduped corpora — measured +0.7 s at
            # sf0.1, where families exist and both passes end up paid;
            # recorded in OPTIMIZATION_r13.md and deliberately not taken)
            base.unpersist()
            contract_exact = False
    if contract_exact:
        reps = base.filter(F.col(id_col) == F.col("__rep")).select(
            F.col("__rep").alias(id_col), text_col
        )
        # NOT checkpointed (r14): the recursive result's lineage is
        # already truncated at its own materialization points — CC labels
        # are checkpointed every round, and the only lazy tail above them
        # is the small cluster-size window — so the membership join below
        # re-derives a few cheap operators over checkpointed relations,
        # not the LSH+verify+CC subtree. The former checkpoint here was
        # one full extra materialization job of the cluster relation.
        rep_clusters = dedup_clusters(
            reps, text_col, id_col, threshold,
            exact_pairs=exact_pairs, num_hashes=num_hashes, bands=bands,
            max_iter=max_iter, max_exact_rows=max_exact_rows,
            contract_exact=False,
        ).select(
            F.col(id_col).alias("__rep"), "cluster_id"
        )
        # ONE left join resolves every membership case: members of
        # clustered reps inherit the rep's cluster; exact-dup groups whose
        # rep is in NO near-dup cluster still form their own cluster when
        # the group has >1 member (they are mutual dups); unclustered
        # singletons drop out. Cluster sizes come from a count window over
        # the assignment — one shuffle, no join-back.
        assigned = (
            base.join(rep_clusters, "__rep", "left")
            .select(
                id_col,
                F.when(
                    F.col("cluster_id").isNotNull(), F.col("cluster_id")
                ).when(
                    F.col("__grp_n") > 1, F.col("__rep")
                ).alias("cluster_id"),
            )
            .filter(F.col("cluster_id").isNotNull())
        )
        wsz = Window.partitionBy("cluster_id")
        return assigned.select(
            id_col, "cluster_id",
            F.count("*").over(wsz).alias("cluster_size"),
        )
    if exact_pairs:
        assert_small(df, max_exact_rows, "dedup_clusters(exact_pairs=True)")
        sh = df.select(
            F.col(id_col).alias("__id"), shingles(F.col(text_col), 3).alias("g")
        )
        a = sh.select(F.col("__id").alias("id_a"), F.col("g").alias("ga"))
        b = sh.select(F.col("__id").alias("id_b"), F.col("g").alias("gb"))
        inter = F.size(F.array_intersect("ga", "gb")).cast("double")
        union = F.size(F.array_union("ga", "gb")).cast("double")
        pairs = (
            a.join(b, F.col("id_b") > F.col("id_a"))
            .select("id_a", "id_b", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    else:
        pairs = minhash_verified_pairs(
            df, text_col, id_col, threshold, num_hashes, bands
        )
    comp = connected_components(pairs, "id_a", "id_b", max_iter)
    # size via a count window: one comp-keyed shuffle instead of a
    # groupBy + join-back pair over the same key
    wsz = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("cluster_id"),
        F.count("*").over(wsz).alias("cluster_size"),
    )


def prefix_filter_neardup(
    df: DataFrame, text_col: str, id_col: str,
    threshold: float = 0.5, shingle_n: int = 3,
) -> DataFrame:
    """Set-similarity join by prefix filtering (AllPairs/PPJoin family,
    Bayardo et al. WWW'07): EXACT sub-quadratic near-dup — recall 1 by
    construction, unlike the probabilistic MinHash/SimHash paths.

    Guarantee: order every document's shingle set by one global canonical
    order (ascending corpus frequency, rarest first). If
    J(A,B) >= t then |A∩B| >= t·|A| — so A and B MUST share a token inside
    each one's first |s| - ceil(t·|s|) + 1 tokens. Candidates = pairs
    sharing any prefix token; the exact Jaccard verify then filters.

    Scale shape: token-frequency count (map-side combinable) → per-doc sort
    by the broadcast-joinable frequency → explode only PREFIX tokens (the
    rare ones — frequency ordering makes the join buckets small by
    construction, the opposite of a hot-key problem) → bucket join on the
    token → verify on pairs ≪ n². String shingles here (bit-compatible
    with the exact all-pairs oracle); swap in ``shingle_hashes`` at corpus
    scale for fixed-width keys."""
    sh = df.select(
        F.col(id_col).alias("__id"),
        shingles(F.col(text_col), shingle_n).alias("__g"),
    )
    tok = sh.select("__id", F.explode("__g").alias("__t"))
    freq = tok.groupBy("__t").agg(F.count("*").alias("__cnt"))
    ordered = (
        tok.join(freq, "__t")
        .groupBy("__id")
        .agg(
            F.array_sort(F.collect_list(F.struct("__cnt", "__t"))).alias(
                "__ord"
            )
        )
    )
    n = F.size("__ord")
    plen = (n - F.ceil(n * F.lit(threshold)) + 1).cast("int")
    prefix = ordered.select(
        "__id", F.explode(F.slice("__ord", 1, plen)).alias("__p")
    ).select("__id", F.col("__p.__t").alias("__t"))
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("b.__id") > F.col("a.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    ga = sh.select(F.col("__id").alias("id_a"), F.col("__g").alias("__ga"))
    gb = sh.select(F.col("__id").alias("id_b"), F.col("__g").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = F.size(F.array_union("__ga", "__gb")).cast("double")
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def chunk_dedup_stats(
    docs: DataFrame, chunk_words: int = 8,
    group_col: str = "source",
) -> DataFrame:
    """Cross-document chunk-level dedup audit (the CCNet dedup stage,
    Wenzek et al. 2020 arXiv:1911.00359, on fixed ``chunk_words``-word
    chunks): per ``group_col``, how many chunk occurrences appear in >=2
    distinct documents, and the distinct-chunk count.

    Expects columns ``(doc_id, text, <group_col>)``. Chunks are hashed
    scan-side (md5) so the only fact-sized shuffle carries 32-byte
    hashes; the shared-hash relation is Zipf-small and joins back on the
    same key (AQE broadcasts it at small SF, sort-merge co-partitioned
    at fact scale). Used by queries_r7.chunk_dedup_ccnet (hash-green vs
    a DuckDB replay) and scripts/stress_chunk_dedup.py (100x row).
    """
    d = docs.select("doc_id", group_col, F.split("text", " ").alias("w"))
    c = d.select(
        "doc_id", group_col,
        F.explode(F.expr(
            f"transform(sequence(0, cast(ceil(size(w)/{chunk_words}.0)"
            f" as int) - 1), i -> md5(cast(array_join(slice(w,"
            f" i*{chunk_words} + 1, {chunk_words}), ' ') as binary)))"
        )).alias("h"),
    )
    shared = c.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )
    return (
        c.join(shared, "h")
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.count(F.when(F.col("nd") >= 2, 1)).cast("long")
            .alias("n_dup_chunks"),
            F.countDistinct("h").cast("long").alias("n_distinct_chunks"),
        )
        .select(
            group_col, "n_chunks", "n_dup_chunks", "n_distinct_chunks",
            F.expr("n_dup_chunks * 1000000 div n_chunks").alias("dup_ppm"),
        )
    )
