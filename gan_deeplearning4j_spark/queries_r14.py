"""Round-12 live additions.

Wave focus (r11 verdict ask #7 — the one LLM-pipeline family with thin
coverage): rule-based data-quality curation over ``documents``, the
C4/Gopher-style filter battery a 100 TB pretraining pipeline runs between
dedup and tokenization —

- ``gopher_quality_filters``: per-source rule-failure census (length /
  mean-word-length / stop-word-type rules, thresholds calibrated so every
  rule has both pass and fail populations at sf0.001/0.01/0.1);
- ``doc_repetition_audit``: Gopher repetition signals (top-bigram share);
- ``quality_filter_funnel``: the sequential survival funnel through the
  full rule battery;
- ``contamination_13gram_audit`` / ``decontam_drop_plan``: benchmark
  contamination by EXACT 13-gram overlap (the split-leakage audit
  generalized from near-dup pairs to exact n-gram hits) and the train-side
  drop plan it implies;
- ``unigram_surprise_proxy``: integer inverse-frequency surprise scoring
  (the rarity-based ranking a perplexity filter approximates, in exact
  cross-engine integer math);
- ``ngram_coverage_curve``: vocabulary-coverage planning (types needed to
  cover 50/90/99% of token mass);
- ``curation_keep_report``: the composed exact-dedup + quality keep-rate
  report per source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _t, register


# shared house tokenization (matches the dedup family's oracles exactly):
# lower + trim + whitespace split + drop empties
_TOKS_SQL = """
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x != '') AS t
      FROM documents
"""

_STOPWORDS = ("the", "a", "of", "to", "and", "in")


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, source, t array<string>) — Spark twin of _TOKS_SQL."""
    return docs.select(
        "doc_id", "source",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: x != "",
        ).alias("t"),
    )


# per-doc quality metrics shared by the filter battery (one projection, no
# shuffle): word count, mean word length in e3 fixed point (integer div —
# order-free), distinct stop-word types present
def _doc_metrics(docs: DataFrame) -> DataFrame:
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return _tokens(docs).select(
        "doc_id", "source",
        F.size("t").cast("long").alias("nw"),
        # NULL (not a 0 div 0 ANSI error) for a zero-token document —
        # matching the oracle, where list_sum over an empty list is NULL:
        # NULL metrics fail no band predicate, and nw=0 already fails the
        # length rule (r12 review; degenerate-corpus edge, zero such docs
        # at the test SFs today)
        F.expr(
            "IF(size(t) = 0, CAST(NULL AS BIGINT),"
            " aggregate(transform(t, x -> CAST(length(x) AS BIGINT)),"
            " 0L, (a, x) -> a + x) * 1000 div size(t))"
        ).alias("mwl_e3"),
        F.expr(
            f"CAST(size(array_distinct(filter(t,"
            f" x -> array_contains(array({stop_arr}), x)))) AS BIGINT)"
        ).alias("n_stop_types"),
        "t",
    )


_SQL_STOP = ", ".join(f"'{w}'" for w in _STOPWORDS)


# A doc's most-repeated-bigram count as a MAP-SIDE column expression
# (r13 perf pass): sort the doc's bigram array and take the longest
# equal-run — identical to the grouped max count because bigram strings
# are collision-free (tokens carry no whitespace, so tok1+' '+tok2 is
# injective). Replaces the explode -> (doc,gram) shuffle -> doc shuffle
# -> join-back path with zero exchanges; the Catalyst aggregate carries a
# fixed-size (prev, run, best) struct — constant state per element, not
# the O(n^2) array_append trap. NULL for docs with < 2 tokens (no
# bigrams), matching the old left-join miss.
_TOP_BIGRAM_RUN = """
  IF(size(t) < 2, CAST(NULL AS BIGINT),
    aggregate(
      array_sort(slice(zip_with(slice(t, 1, 1000000000),
                                slice(t, 2, 1000000000),
                                (a, b) -> concat_ws(' ', a, b)),
                       1, size(t) - 1)),
      named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
      (st, x) -> named_struct(
        'prev', x,
        'run', IF(st.prev IS NOT NULL AND x = st.prev, st.run + 1L, 1L),
        'best', greatest(st.best,
                         IF(st.prev IS NOT NULL AND x = st.prev,
                            st.run + 1L, 1L))),
      st -> st.best))
"""

# rule thresholds, calibrated on the corpus so every rule fails SOME and
# passes SOME docs at sf0.001/0.01/0.1 (measured: short 105/106/1117 of
# 500/500/5000; mwl 6/8/94; stop 179/183/1868; repetitive 59/71/644)
_MIN_WORDS = 30
_MWL_LO, _MWL_HI = 4000, 5200
_MIN_STOP_TYPES = 2
_MAX_TOP_BIGRAM_PM = 60


@register(
    "gopher_quality_filters",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    m AS (
      SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS nw,
             CAST(list_sum(list_transform(t, x -> len(x))) * 1000 // len(t)
                  AS BIGINT) AS mwl_e3,
             CAST(len(list_distinct(list_filter(t,
                    x -> x IN ({_SQL_STOP})))) AS BIGINT) AS n_stop_types
      FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE nw < {_MIN_WORDS}) AS BIGINT)
             AS n_fail_short,
           CAST(COUNT(*) FILTER (WHERE mwl_e3 < {_MWL_LO} OR mwl_e3 > {_MWL_HI})
                AS BIGINT) AS n_fail_mwl,
           CAST(COUNT(*) FILTER (WHERE n_stop_types < {_MIN_STOP_TYPES})
                AS BIGINT) AS n_fail_stop,
           CAST(COUNT(*) FILTER (WHERE nw >= {_MIN_WORDS}
                AND mwl_e3 BETWEEN {_MWL_LO} AND {_MWL_HI}
                AND n_stop_types >= {_MIN_STOP_TYPES}) AS BIGINT) AS n_pass
    FROM m GROUP BY source ORDER BY source
    """,
    doc="Gopher-style rule-based quality census (Rae et al. 2021 §A1.1 "
        "re-expressed over the corpus): per source, how many documents "
        "fail each of the three cheap lexical rules — too few words "
        f"(< {_MIN_WORDS}), mean word length outside "
        f"[{_MWL_LO/1000:.1f}, {_MWL_HI/1000:.1f}] chars (e3 fixed point, "
        "integer div — order-free), fewer than "
        f"{_MIN_STOP_TYPES} distinct stop-word types present — and how "
        "many pass all three. Thresholds calibrated so every rule has "
        "both populations at every test SF (docstring table in "
        "queries_r14.py). Scale: ONE scan, per-doc metrics are "
        "narrow-projection expression work, the census is a map-side "
        "combinable grouped count — the exact shape a 100 TB filter "
        "sweep runs before committing to thresholds.",
)
def q_gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    m = _doc_metrics(docs)
    fail_short = F.col("nw") < _MIN_WORDS
    fail_mwl = (F.col("mwl_e3") < _MWL_LO) | (F.col("mwl_e3") > _MWL_HI)
    fail_stop = F.col("n_stop_types") < _MIN_STOP_TYPES
    return (
        m.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_if(fail_short).cast("long").alias("n_fail_short"),
            F.count_if(fail_mwl).cast("long").alias("n_fail_mwl"),
            F.count_if(fail_stop).cast("long").alias("n_fail_stop"),
            F.count_if(~fail_short & ~fail_mwl & ~fail_stop)
            .cast("long").alias("n_pass"),
        )
        .orderBy("source")
    )


@register(
    "doc_repetition_audit",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    bg AS (
      SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS nbg,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> array_to_string(list_slice(t, i, i + 1), ' ')))
               AS g
      FROM toks WHERE len(t) >= 2
    ), pc AS (
      SELECT doc_id, nbg, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2, 3
    ), top AS (
      SELECT doc_id, nbg, MAX(c) AS top_n
      FROM pc GROUP BY 1, 2
    )
    SELECT doc_id, nbg, top_n,
           CAST(top_n * 1000 // nbg AS BIGINT) AS top_share_pm
    FROM top
    ORDER BY top_share_pm DESC, doc_id
    LIMIT 20
    """,
    doc="Gopher repetition-rate signal: per document, the share of bigram "
        "positions occupied by the single most frequent bigram (permille, "
        "integer div), reporting the 20 most repetitive documents "
        "(deterministic ties: share desc, doc_id). The most-common-n-gram "
        "fraction is Gopher's rep-2 filter; the threshold twin feeds "
        f"quality_filter_funnel (> {_MAX_TOP_BIGRAM_PM} permille fails). "
        "Scale: bigrams explode scan-side (zip_with over shifted slices, "
        "never a per-element recompute), the per-(doc,gram) count is one "
        "map-side-combinable aggregate keyed by doc, and the top-20 is "
        "TakeOrderedAndProject — no full sort.",
)
def q_doc_repetition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    top = (
        _tokens(docs)
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            (F.size("t") - 1).cast("long").alias("nbg"),
            F.expr(_TOP_BIGRAM_RUN).alias("top_n"),
        )
    )
    return (
        top.select(
            "doc_id", "nbg", "top_n",
            F.expr("top_n * 1000 div nbg").cast("long")
            .alias("top_share_pm"),
        )
        .orderBy(F.desc("top_share_pm"), "doc_id")
        .limit(20)
    )


def _funnel_metrics_arrow(docs: DataFrame) -> DataFrame:
    """The funnel's four per-doc metrics in ONE Arrow pass (r13
    optimization pass, guide §4.2): the SQL battery's higher-order folds
    (mean-word-length aggregate, stop-word filter+distinct, the sorted
    bigram-run fold) are CodegenFallback — interpreted per array element,
    measured 0.55 s of the funnel's 0.68 s exec at sf0.1; this kernel
    computes the same exact integers in plain Python per batch (0.07 s
    for the whole corpus single-threaded) and ships 4 ints per doc back.

    Exactness contract (same discipline as the minhash featurize kernel,
    which has hash-matched the oracles since r2): tokenization splits on
    the EXACT Java ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]`` and drops empty
    tokens, which equals the house SQL tokenization
    ``filter(split(lower(trim(text)), '\\s+'), x != '')`` for ANY input
    — not just ASCII corpora (r13 advice: the former ``str.split()``
    also split on Unicode whitespace like \\xa0, so engine/oracle parity
    was corpus-conditional; the only residual corpus-conditional piece
    is ``str.lower()`` vs SQL ``lower`` on exotic case mappings, both
    identity on ASCII). All downstream math is exact int (// on
    nonnegative == SQL div), NULLs where the SQL forms yield NULL
    (nw = 0 -> mwl NULL; nw < 2 -> top_share NULL).

    Vectorized (r14 second pass, guide §4.2 — this was the last
    corpus-scale per-row Python loop in a headline path): RE2 does the
    splitting, ``str.lower`` runs once per DISTINCT raw token via
    ``dictionary_encode`` (equivalent to lowering the whole string
    first: Unicode lowercase never produces or consumes a split-class
    character — and Python's final-sigma context agrees token-wise vs
    string-wise because the following character is a split char in
    both views; pinned on Greek/Turkish rows in the A/B and the
    non-ASCII property test), and the per-doc metrics are numpy
    reductions over canonical LOWERED-token codes: mwl as an exact int
    segment sum of lowered-token lengths, stop TYPES as distinct
    (doc, code) pairs over the stop-flagged positions, and the top
    bigram count as the longest run of equal (doc, code-pair) keys
    under one lexsort — the code pair is injective for the joined
    ``a + ' ' + b`` string because tokens cannot contain the
    separator. Python work is O(vocabulary) per batch instead of
    O(tokens): row-for-row identical to the former loop on the full
    sf0.1 corpus and on adversarial unicode/case-collision rows
    (kernel pass med 0.39 -> 0.33 s at sf0.1; the win grows with the
    corpus-to-vocabulary ratio)."""
    stop_set = frozenset(_STOPWORDS)

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            txt = pc.fill_null(batch.column(0), "")
            toks = pc.split_pattern_regex(txt, "[ \t\n\x0b\f\r]+")
            lens = pc.list_value_length(toks).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            flat = pc.list_flatten(toks)
            nonempty = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            doc_of_all = np.repeat(np.arange(nrows), lens)
            nw = np.bincount(
                doc_of_all[nonempty], minlength=nrows
            ).astype(np.int64)
            flat = flat.filter(pa.array(nonempty))
            m = len(flat)

            mwl = np.zeros(nrows, dtype=np.int64)
            n_stop = np.zeros(nrows, dtype=np.int64)
            best = np.zeros(nrows, dtype=np.int64)
            if m:
                enc = flat.dictionary_encode()
                low = [t.lower() for t in enc.dictionary.to_pylist()]
                # canonical code per LOWERED token: two raw spellings
                # lowering to the same token must share a code (bigram
                # and stop-distinct identity is the lowered string)
                _, code_of_dict = np.unique(
                    np.array(low, dtype=object), return_inverse=True
                )
                code_of_dict = code_of_dict.astype(np.int64)
                len_of_dict = np.fromiter(
                    (len(t) for t in low), dtype=np.int64, count=len(low)
                )
                stop_of_dict = np.fromiter(
                    (t in stop_set for t in low), dtype=bool, count=len(low)
                )
                idx = enc.indices.to_numpy(zero_copy_only=False)
                codes = code_of_dict[idx]
                doc_of = np.repeat(np.arange(nrows), nw)
                starts = np.zeros(nrows, dtype=np.int64)
                np.cumsum(nw[:-1], out=starts[1:])
                # exact int segment sum (np.add.at, not bincount-with-
                # weights, which would round-trip through float64)
                np.add.at(mwl, doc_of, len_of_dict[idx])
                sp = stop_of_dict[idx]
                if sp.any():
                    # distinct (doc, code): doc*nvocab+code is collision-
                    # free and far from int64 overflow (docs/batch ~1e4,
                    # vocab/batch bounded by the batch's token count)
                    nvocab = np.int64(len(low) + 1)
                    sk = np.unique(doc_of[sp] * nvocab + codes[sp])
                    n_stop = np.bincount(
                        sk // nvocab, minlength=nrows
                    ).astype(np.int64)
                if m >= 2:
                    pos = np.arange(m - 1)
                    d = doc_of[: m - 1]
                    # keep pair position i iff both tokens sit inside doc d
                    keep = (pos - starts[d]) <= (nw[d] - 2)
                    if keep.any():
                        nvocab = np.int64(len(low) + 1)
                        p = codes[:-1][keep] * nvocab + codes[1:][keep]
                        dk = d[keep]
                        order = np.lexsort((p, dk))
                        sp_, sd_ = p[order], dk[order]
                        new = np.empty(len(sp_), dtype=bool)
                        new[0] = True
                        np.logical_or(
                            np.diff(sd_) != 0, np.diff(sp_) != 0,
                            out=new[1:],
                        )
                        run_starts = np.flatnonzero(new)
                        run_lens = np.diff(
                            np.append(run_starts, len(sp_))
                        )
                        np.maximum.at(best, sd_[run_starts], run_lens)

            mwl_vals = np.where(nw > 0, mwl * 1000 // np.maximum(nw, 1), 0)
            share_vals = np.where(
                nw >= 2, best * 1000 // np.maximum(nw - 1, 1), 0
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(nw, type=pa.int64()),
                    pa.array(mwl_vals, type=pa.int64(), mask=(nw == 0)),
                    pa.array(n_stop, type=pa.int64()),
                    pa.array(share_vals, type=pa.int64(), mask=(nw < 2)),
                ],
                names=["nw", "mwl_e3", "n_stop_types", "top_share_pm"],
            )

    return docs.select("text").mapInArrow(
        gen, "nw long, mwl_e3 long, n_stop_types long, top_share_pm long"
    )


@register(
    "quality_filter_funnel",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS nw,
             CAST(list_sum(list_transform(t, x -> len(x))) * 1000 // len(t)
                  AS BIGINT) AS mwl_e3,
             CAST(len(list_distinct(list_filter(t,
                    x -> x IN ({_SQL_STOP})))) AS BIGINT) AS n_stop_types,
             t
      FROM toks
    ), bg AS (
      SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS nbg,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> array_to_string(list_slice(t, i, i + 1), ' ')))
               AS g
      FROM m WHERE len(t) >= 2
    ), rep AS (
      SELECT doc_id, MAX(c) * 1000 // ANY_VALUE(nbg) AS top_share_pm
      FROM (SELECT doc_id, nbg, g, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3)
      GROUP BY doc_id
    ), flags AS (
      SELECT m.doc_id,
             (nw >= {_MIN_WORDS}) AS p1,
             (nw >= {_MIN_WORDS}
              AND mwl_e3 BETWEEN {_MWL_LO} AND {_MWL_HI}) AS p2,
             (nw >= {_MIN_WORDS}
              AND mwl_e3 BETWEEN {_MWL_LO} AND {_MWL_HI}
              AND n_stop_types >= {_MIN_STOP_TYPES}) AS p3,
             (nw >= {_MIN_WORDS}
              AND mwl_e3 BETWEEN {_MWL_LO} AND {_MWL_HI}
              AND n_stop_types >= {_MIN_STOP_TYPES}
              AND COALESCE(r.top_share_pm, 0) <= {_MAX_TOP_BIGRAM_PM})
               AS p4
      FROM m LEFT JOIN rep r ON r.doc_id = m.doc_id
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s0,
             CAST(COUNT(*) FILTER (WHERE p1) AS BIGINT) AS s1,
             CAST(COUNT(*) FILTER (WHERE p2) AS BIGINT) AS s2,
             CAST(COUNT(*) FILTER (WHERE p3) AS BIGINT) AS s3,
             CAST(COUNT(*) FILTER (WHERE p4) AS BIGINT) AS s4
      FROM flags
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage, 'all' AS rule,
             s0 AS n_surviving, CAST(0 AS BIGINT) AS n_dropped_here
      FROM agg
      UNION ALL SELECT 1, 'min_words', s1, s0 - s1 FROM agg
      UNION ALL SELECT 2, 'mean_word_length', s2, s1 - s2 FROM agg
      UNION ALL SELECT 3, 'stopword_types', s3, s2 - s3 FROM agg
      UNION ALL SELECT 4, 'repetition', s4, s3 - s4 FROM agg
    ) ORDER BY stage
    """,
    headline=True,
    doc="The curation funnel: documents surviving each successive quality "
        "rule (length -> mean word length -> stop-word types -> "
        "repetition), with per-stage drop counts — the report a filter "
        "sweep publishes to justify its thresholds (C4/Gopher pipelines "
        "report exactly this survival table). Rule order matters: each "
        "stage counts docs passing ALL rules so far, so n_dropped_here "
        "attributes every document to the FIRST rule that kills it. "
        "Scale: one scan computes all per-doc flags (the repetition flag "
        "joins the per-doc top-bigram share, itself one grouped "
        "aggregate), one global 1-row aggregate, and the 5-row funnel is "
        "a bounded explode of that single row — no per-stage rescans.",
)
def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # the repetition signal rides the same Arrow pass as the other three
    # metrics — no explode, no (doc,gram) shuffle, no join-back: the
    # whole funnel is one scan + a 1-row agg (the r13-build map-side
    # form, with the interpreted array folds swapped for a batch kernel)
    m = _funnel_metrics_arrow(docs)
    flags = m.select(
        (F.col("nw") >= _MIN_WORDS).alias("p1"),
        F.col("mwl_e3").between(_MWL_LO, _MWL_HI).alias("q_mwl"),
        (F.col("n_stop_types") >= _MIN_STOP_TYPES).alias("q_stop"),
        (F.coalesce(F.col("top_share_pm"), F.lit(0))
         <= _MAX_TOP_BIGRAM_PM).alias("q_rep"),
    ).select(
        "p1",
        (F.col("p1") & F.col("q_mwl")).alias("p2"),
        (F.col("p1") & F.col("q_mwl") & F.col("q_stop")).alias("p3"),
        (F.col("p1") & F.col("q_mwl") & F.col("q_stop") & F.col("q_rep"))
        .alias("p4"),
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("s0"),
        F.count_if("p1").cast("long").alias("s1"),
        F.count_if("p2").cast("long").alias("s2"),
        F.count_if("p3").cast("long").alias("s3"),
        F.count_if("p4").cast("long").alias("s4"),
    )
    return (
        agg.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).cast("long").alias("stage"),
                        F.lit("all").alias("rule"),
                        F.col("s0").alias("n_surviving"),
                        F.lit(0).cast("long").alias("n_dropped_here"),
                    ),
                    F.struct(
                        F.lit(1).cast("long").alias("stage"),
                        F.lit("min_words").alias("rule"),
                        F.col("s1").alias("n_surviving"),
                        (F.col("s0") - F.col("s1")).alias("n_dropped_here"),
                    ),
                    F.struct(
                        F.lit(2).cast("long").alias("stage"),
                        F.lit("mean_word_length").alias("rule"),
                        F.col("s2").alias("n_surviving"),
                        (F.col("s1") - F.col("s2")).alias("n_dropped_here"),
                    ),
                    F.struct(
                        F.lit(3).cast("long").alias("stage"),
                        F.lit("stopword_types").alias("rule"),
                        F.col("s3").alias("n_surviving"),
                        (F.col("s2") - F.col("s3")).alias("n_dropped_here"),
                    ),
                    F.struct(
                        F.lit(4).cast("long").alias("stage"),
                        F.lit("repetition").alias("rule"),
                        F.col("s4").alias("n_surviving"),
                        (F.col("s3") - F.col("s4")).alias("n_dropped_here"),
                    ),
                )
            ).alias("row")
        )
        .select("row.*")
        .orderBy("stage")
    )


# contamination split: benchmark = doc_id % 10 == 7 (measured non-vacuous
# at every SF: 4/5/39 contaminated bench docs, 209/278/1929 hit pairs)
_BENCH_MOD, _BENCH_REM = 10, 7
_CONTAM_N = 13  # the GPT-3/Gopher decontamination n-gram order


def _gram13_sql(who: str) -> str:
    return f"""
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(t) - {_CONTAM_N - 1}, 0) + 1),
                 i -> array_to_string(list_slice(t, i, i + {_CONTAM_N - 1}),
                                      ' '))) AS g
        FROM toks
        WHERE len(t) >= {_CONTAM_N}
          AND doc_id % {_BENCH_MOD} {'=' if who == 'bench' else '!='}
              {_BENCH_REM}
      )
    """


def _gram13_train_kernel(with_doc: bool):
    """``mapInArrow`` generator emitting the corpus side's raw 13-grams —
    the vectorized twin of ``explode(_gram13_expr())`` over ``_tokens``,
    RELATION-IDENTICAL to it (same multiset of rows, pinned by the A/B
    and the oracle gates), for the train split that scales with the
    corpus (guide §4.2: the higher-order ``transform(sequence, i ->
    array_join(slice(t, i, 13)))`` chain is CodegenFallback — interpreted
    per position, ~40-55% of the audit's exec at sf0.1).

    Inside one batch: trim + RE2 split on the exact Java ``\\s`` class
    (the class-split parity with the JVM regex is pinned by the funnel
    kernel's property test), empty tokens dropped (= the ``x != ''``
    filter), tokens lowercased per DISTINCT token via
    ``dictionary_encode`` with Python ``str.lower`` — equivalent to
    lowering the whole string first, since Unicode lowercase never
    produces or consumes a split-class or trim-class character — then
    every 13-gram string built in ONE ``binary_join_element_wise`` over
    13 shifted slices of the flat token buffer, masked at document
    boundaries. Raw grams out (no per-batch dedup): bit-identical to the
    explode, and the post-join distinct aggregates absorb duplicates
    exactly as before. The bench split stays on the JVM expression —
    it is small by contract and its two consumers must stay
    byte-identical subtrees for the runtime ReusedExchange."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = _CONTAM_N

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            txt = pc.fill_null(batch.column(1 if with_doc else 0), "")
            toks = pc.split_pattern_regex(
                pc.utf8_trim(txt, " "), "[ \t\n\x0b\f\r]+"
            )
            lens = pc.list_value_length(toks).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            flat = pc.list_flatten(toks)
            nonempty = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            doc_of_all = np.repeat(np.arange(len(lens)), lens)
            new_lens = np.bincount(
                doc_of_all[nonempty], minlength=len(lens)
            ).astype(np.int64)
            flat = flat.filter(pa.array(nonempty))
            m = len(flat)
            if m < n:
                continue
            enc = flat.dictionary_encode()
            low = pa.array(
                [t.lower() for t in enc.dictionary.to_pylist()],
                type=pa.string(),
            )
            flat = low.take(enc.indices)
            starts = np.zeros(len(new_lens), dtype=np.int64)
            np.cumsum(new_lens[:-1], out=starts[1:])
            doc_of = np.repeat(np.arange(len(new_lens)), new_lens)
            parts = [flat.slice(k, m - n + 1) for k in range(n)]
            grams = pc.binary_join_element_wise(*parts, " ")
            pos = np.arange(m - n + 1)
            d = doc_of[: m - n + 1]
            # keep position i iff the whole window sits inside doc d
            # (docs shorter than n have len-n < 0 and keep no position)
            keep = (pos - starts[d]) <= (new_lens[d] - n)
            kept = grams.filter(pa.array(keep))
            if with_doc:
                ids = batch.column(0).to_numpy(zero_copy_only=False)[d[keep]]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids, type=pa.int64()), kept],
                    names=["doc_id", "g"],
                )
            else:
                yield pa.RecordBatch.from_arrays([kept], names=["g"])

    return gen


def _gram13_expr():
    """Exploded 13-gram column over ``t`` — transform over an index
    sequence with a BOUNDED slice(t, i, 13) per element. The per-element
    slice is O(13), not the computed-array O(n^2) trap (t is the raw
    column, not a lambda-local computed array); measured 2x faster than
    the 13-step zip_with chain at sf0.1 (1.2 s vs 2.4 s for the full
    explode+distinct, identical 210,855 distinct grams).

    The ``size(t) >= 13`` guard lives INSIDE the expression (short docs
    yield ``array()`` and die in the explode) instead of a separate
    ``.filter``: the pushed-down filter form made Catalyst evaluate the
    whole tokenizer twice per row — once in the Filter for the size
    check, once in the Project that materializes ``t`` (r13 optimization
    pass, guide §2.3/§7.2: the before-plan's Filter(2)+Project(3) both
    carried the full ``filter(split(lower(trim(text))))`` expression).
    ``sequence(1, size-12)`` must never see a stop below its start —
    sequence() generates DESCENDING sequences for stop < start, which is
    why the guard cannot simply be dropped."""
    return F.explode(F.expr(
        f"IF(size(t) >= {_CONTAM_N}, "
        f"transform(sequence(1, size(t) - {_CONTAM_N - 1}),"
        f" i -> array_join(slice(t, i, {_CONTAM_N}), ' ')), "
        "array())"
    ))


@register(
    "contamination_13gram_audit",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    bench AS ({_gram13_sql('bench')}),
    train AS ({_gram13_sql('train')}),
    hits AS (
      SELECT b.doc_id, COUNT(DISTINCT b.g) AS n_hit
      FROM bench b WHERE b.g IN (SELECT g FROM train)
      GROUP BY b.doc_id
    ), per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM bench GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) * 1000000 // p.n_grams AS BIGINT)
             AS hit_ppm,
           (COALESCE(h.n_hit, 0) > 0) AS contaminated
    FROM per p LEFT JOIN hits h ON h.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
    headline=True,
    doc="Benchmark-contamination audit by EXACT 13-gram overlap (the "
        "GPT-3/Gopher decontamination n-gram order): the held-out "
        f"benchmark split (doc_id % {_BENCH_MOD} == {_BENCH_REM}) is "
        "checked against the train split for any shared distinct "
        "13-token sequence; per benchmark doc: distinct-gram count, hit "
        "count, hit ppm, contaminated flag. The ★neardup_split_leakage "
        "audit generalized from MinHash pairs to exact n-gram evidence "
        "(fuzzy leakage vs verbatim leakage — real pipelines run BOTH). "
        "Non-vacuous at every SF by measurement (4/5/39 contaminated "
        "docs at sf0.001/0.01/0.1). Scale: grams explode scan-side and "
        "join on the gram key — the train side is deduped per (doc, "
        "gram) first so the join never amplifies; the benchmark side "
        "broadcasts (benchmarks are MBs, the corpus is the 100 TB "
        "side). Measured linear 50k->200k docs (20.6->72.8 s, "
        "scripts/stress_contamination.py). On a NETWORK-bound cluster "
        "swap the string key for a 60-bit md5-fold (15 hex chars — the "
        "int64-ANSI-safe house fold; birthday bound ~2^30 distinct "
        "grams, so widen to two folded columns past billions of "
        "grams — stress found identical hit counts at test scale); "
        "locally the fold costs ~7% extra compute for nothing because "
        "the shuffle is memory-local.",
)
def q_contamination_13gram_audit(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)

    is_bench = (F.col("doc_id") % _BENCH_MOD) == _BENCH_REM
    # (doc_id, g) distinct on the BENCHMARK side only. The isnotnull(g)
    # filter is a semantic no-op (array_join never yields NULL here) that
    # keeps this subtree byte-identical to the copy under the broadcast
    # join below — the join pushes IsNotNull onto its build side, and
    # without the explicit filter the two bench subtrees differ by that
    # one node and ReuseExchange cannot fire (the r12 plan scanned +
    # tokenized + exploded the bench split twice for exactly this reason).
    bench = (
        toks.filter(is_bench)
        .select("doc_id", _gram13_expr().alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    # train side: RAW grams, no distinct. The r12 form paid the
    # query's only corpus-scale shuffle here (a full g-distinct exchange
    # of every train gram) to keep the join from amplifying — but the
    # countDistinct(g) below already collapses duplicate matches in its
    # map-side partial aggregate, so the join result is identical and the
    # train side flows scan -> gram kernel -> broadcast-probe -> partial
    # distinct-agg with ZERO exchanges (guide §2.3 "aggregate before you
    # shuffle" / §2.4 "remove shuffles outright"). At 100 TB this deletes
    # the one shuffle that scaled with the corpus; what crosses the wire
    # is only the per-map-partition-distinct (bench_doc, g) matches.
    # Gram construction itself is the vectorized Arrow kernel (r14,
    # guide §4.2) — relation-identical to explode(_gram13_expr());
    # the doc_id split filter stays ABOVE the scan so pushdown is kept,
    # and only `text` crosses the Python boundary.
    train_raw = (
        docs.filter(~is_bench).select("text")
        .mapInArrow(_gram13_train_kernel(with_doc=False), "g string")
    )
    # benchmark grams BROADCAST into the (huge) train side — the doc's
    # 100 TB contract made explicit instead of left to the threshold
    # (benchmarks are MBs; train grams are the corpus-scale relation)
    hits = (
        train_raw.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hit"))
    )
    per = bench.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    return (
        per.join(hits, "doc_id", "left")
        .select(
            "doc_id", "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.expr("coalesce(n_hit, 0) * 1000000 div n_grams").cast("long")
            .alias("hit_ppm"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "decontam_drop_plan",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    bench AS ({_gram13_sql('bench')}),
    train AS ({_gram13_sql('train')}),
    implicated AS (
      SELECT DISTINCT t.doc_id
      FROM train t WHERE t.g IN (SELECT g FROM bench)
    ), base AS (
      SELECT source, doc_id FROM documents
      WHERE doc_id % {_BENCH_MOD} != {_BENCH_REM}
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(COUNT(i.doc_id) AS BIGINT) AS n_drop,
           CAST(COUNT(i.doc_id) * 1000000 // COUNT(*) AS BIGINT)
             AS drop_ppm
    FROM base b LEFT JOIN implicated i ON i.doc_id = b.doc_id
    GROUP BY b.source ORDER BY b.source
    """,
    doc="The train-side decontamination plan the 13-gram audit implies: "
        "per source, how many train documents share at least one exact "
        "13-gram with the benchmark split and would be DROPPED before "
        "training (the canonical GPT-3 appendix-C remediation), with the "
        "drop rate in ppm. Complements contamination_13gram_audit (which "
        "reports the benchmark side); a real pipeline publishes both "
        "directions before committing the drop. Scale: same gram-keyed "
        "join as the audit (benchmark grams broadcast at real scale), "
        "then one map-side-combinable census per source.",
)
def q_decontam_drop_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)

    is_bench = (F.col("doc_id") % _BENCH_MOD) == _BENCH_REM
    # one distinct on g only (the old (doc_id, g)-distinct + g-distinct
    # pair collapsed to this in the optimized plan anyway); the size
    # guard lives inside _gram13_expr now — see the audit query
    bench_grams = (
        toks.filter(is_bench).select(_gram13_expr().alias("g")).distinct()
    )
    # train side RAW (no pre-join (doc_id, g) distinct): the post-join
    # .select("doc_id").distinct() absorbs duplicate matches in its
    # map-side partial aggregate, so the corpus-scale distinct exchange
    # disappears — same restructure as contamination_13gram_audit, with
    # the same vectorized Arrow gram kernel on the corpus side (r14)
    implicated = (
        docs.filter(~is_bench).select("doc_id", "text")
        .mapInArrow(_gram13_train_kernel(with_doc=True), "doc_id long, g string")
        .join(F.broadcast(bench_grams), "g")
        .select("doc_id").distinct()
        .withColumn("hit", F.lit(1))
    )
    base = docs.filter(~is_bench).select("source", "doc_id")
    return (
        base.join(implicated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.count("hit").cast("long").alias("n_drop"),
        )
        .select(
            "source", "n_train", "n_drop",
            F.expr("n_drop * 1000000 div n_train").cast("long")
            .alias("drop_ppm"),
        )
        .orderBy("source")
    )


@register(
    "unigram_surprise_proxy",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
    freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY w),
    scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS nw,
             CAST(SUM(1000000 // f.f) // COUNT(*) AS BIGINT)
               AS surprise_u
      FROM tok t JOIN freq f ON f.w = t.w
      GROUP BY t.doc_id
    )
    SELECT doc_id, nw, surprise_u
    FROM scored
    ORDER BY surprise_u DESC, doc_id
    LIMIT 20
    """,
    doc="Rarity-based document scoring — the exact-integer stand-in for "
        "the perplexity filter every curation pipeline runs (docs made of "
        "rare tokens score high = surprising; boilerplate scores low): "
        "per-token surprise = 1e6 // corpus_frequency (integer — "
        "transcendental-free, so the score replays bit-exactly in SQL "
        "where a log-prob would drift), per-doc mean via integer div, "
        "top-20 most surprising (ties: doc_id). Scale: the frequency "
        "table is Heaps-law small and BROADCASTS; one token-keyed join + "
        "one doc-keyed aggregate; top-20 is TakeOrderedAndProject.",
)
def q_unigram_surprise_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = _tokens(docs).select(
        "doc_id", F.explode("t").alias("w")
    )
    freq = tok.groupBy("w").agg(F.count("*").cast("long").alias("f"))
    return (
        tok.join(F.broadcast(freq), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("nw"),
            F.expr("sum(1000000 div f) div count(*)").cast("long")
            .alias("surprise_u"),
        )
        .orderBy(F.desc("surprise_u"), "doc_id")
        .limit(20)
    )


@register(
    "ngram_coverage_curve",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    freq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), ranked AS (
      SELECT w, f,
             ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rnk,
             SUM(f) OVER (ORDER BY f DESC, w
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(f) OVER () AS total
      FROM freq
    ), targets AS (SELECT unnest([500, 900, 990]) AS target_pm)
    SELECT CAST(t.target_pm AS BIGINT) AS target_pm,
           CAST(MIN(r.rnk) AS BIGINT) AS n_types,
           CAST(MIN(r.cum) AS BIGINT) AS cum_tokens
    FROM targets t JOIN ranked r ON r.cum * 1000 >= t.target_pm * r.total
    GROUP BY t.target_pm ORDER BY target_pm
    """,
    doc="Vocabulary-coverage planning curve: the number of distinct token "
        "types (frequency-ranked, ties by token) needed to cover 50% / "
        "90% / 99% of corpus token mass — the query run before choosing "
        "a tokenizer vocab size or an OOV cutoff (Zipf mass curve). "
        "MIN(rnk) at the first rank whose running mass crosses each "
        "permille target; MIN(cum) is well-defined because rnk orders "
        "cum monotonically. Scale: the type table is Heaps-law small "
        "(the ONLY windowed relation — thousands of rows at 100 TB), so "
        "the running sum is trivially single-partition; the heavy side "
        "is one map-side-combinable token count.",
)
def q_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.windows import bounded_window

    docs = _t(spark, sf_dir, "documents")
    freq = (
        _tokens(docs).select(F.explode("t").alias("w"))
        .groupBy("w").agg(F.count("*").cast("long").alias("f"))
    )
    w_rank = bounded_window(F.desc("f"), "w")
    ranked = freq.select(
        "f",
        F.row_number().over(w_rank).cast("long").alias("rnk"),
        F.sum("f").over(
            w_rank.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("f").over(bounded_window()).alias("total"),
    )
    targets = F.explode(F.array(*[F.lit(t) for t in (500, 900, 990)]))
    tdf = ranked.sparkSession.range(1).select(targets.alias("target_pm"))
    return (
        tdf.join(
            ranked,
            F.col("cum") * 1000 >= F.col("target_pm") * F.col("total"),
        )
        .groupBy(F.col("target_pm").cast("long").alias("target_pm"))
        .agg(
            F.min("rnk").cast("long").alias("n_types"),
            F.min("cum").cast("long").alias("cum_tokens"),
        )
        .orderBy("target_pm")
    )


@register(
    "curation_keep_report",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    canon AS (
      SELECT doc_id, source, array_to_string(t, ' ') AS c FROM toks
    ), kept_dedup AS (
      SELECT doc_id, source, c,
             (doc_id = MIN(doc_id) OVER (PARTITION BY md5(c))) AS keep
      FROM canon
    ), m AS (
      SELECT k.doc_id, k.source, k.keep,
             CAST(len(t) AS BIGINT) AS nw,
             CAST(list_sum(list_transform(t, x -> len(x))) * 1000 // len(t)
                  AS BIGINT) AS mwl_e3,
             CAST(len(list_distinct(list_filter(t,
                    x -> x IN ({_SQL_STOP})))) AS BIGINT) AS n_stop_types
      FROM kept_dedup k JOIN toks USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_after_dedup,
           CAST(COUNT(*) FILTER (WHERE keep AND nw >= {_MIN_WORDS}
                AND mwl_e3 BETWEEN {_MWL_LO} AND {_MWL_HI}
                AND n_stop_types >= {_MIN_STOP_TYPES}) AS BIGINT)
             AS n_after_quality,
           CAST(COUNT(*) FILTER (WHERE keep AND nw >= {_MIN_WORDS}
                AND mwl_e3 BETWEEN {_MWL_LO} AND {_MWL_HI}
                AND n_stop_types >= {_MIN_STOP_TYPES})
                * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
    FROM m GROUP BY source ORDER BY source
    """,
    doc="The composed curation keep-rate report: per source, documents "
        "surviving exact dedup (md5 of the canonical token string, "
        "keep-first-doc_id — the ★minhash_dedup family's exact stage) "
        "and THEN the Gopher rule battery, with the final keep rate in "
        "ppm — the one-table summary a data lead reads before signing "
        "off a corpus drop. Dedup-then-quality order matters (a kept "
        "doc's duplicates must not inflate quality counts) and the "
        "funnel query attributes the same battery per-rule. Scale: ONE "
        "fingerprint shuffle (64-bit at 100 TB) + one scan's expression "
        "metrics + one grouped census; no joins against the corpus.",
)
def q_curation_keep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    m = _doc_metrics(docs).withColumn(
        "c", F.concat_ws(" ", F.col("t"))
    )
    keep = m.withColumn(
        "keep",
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy(F.md5(F.col("c")))),
    )
    quality = (
        (F.col("nw") >= _MIN_WORDS)
        & F.col("mwl_e3").between(_MWL_LO, _MWL_HI)
        & (F.col("n_stop_types") >= _MIN_STOP_TYPES)
    )
    return (
        keep.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_if("keep").cast("long").alias("n_after_dedup"),
            F.count_if(F.col("keep") & quality).cast("long")
            .alias("n_after_quality"),
        )
        .select(
            "source", "n_docs", "n_after_dedup", "n_after_quality",
            F.expr("n_after_quality * 1000000 div n_docs").cast("long")
            .alias("keep_ppm"),
        )
        .orderBy("source")
    )
