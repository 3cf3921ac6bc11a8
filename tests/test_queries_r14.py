"""Round-13 query pins (queries_r14.py): pure-python replays for
the data-quality-curation wave — hash parity is covered by the
replica runs; these pin the SEMANTICS against an independent
reimplementation (pandas/stdlib tokenize + rule battery)."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY
from gan_deeplearning4j_spark.queries_r14 import (
    _MAX_TOP_BIGRAM_PM,
    _MIN_STOP_TYPES,
    _MIN_WORDS,
    _MWL_HI,
    _MWL_LO,
    _STOPWORDS,
)
from registry_checks import (
    assert_module_registered,
    assert_window_covers,
    declared_names,
    unbound_oracles,
)


def _fn(name):
    return REGISTRY[name].fn


def _toks(text: str) -> list[str]:
    return [w for w in re.split(r"\s+", text.strip().lower()) if w]


def _docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text", "source"])


def _metrics(t):
    nw = len(t)
    mwl_e3 = sum(len(w) for w in t) * 1000 // nw
    n_stop = len({w for w in t if w in _STOPWORDS})
    return nw, mwl_e3, n_stop


def test_gopher_quality_filters_matches_python(spark, sf_dir):
    agg = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in _docs(sf_dir).itertuples(index=False):
        nw, mwl, ns = _metrics(_toks(r.text))
        a = agg[r.source]
        a[0] += 1
        fs, fm, fp = nw < _MIN_WORDS, not (_MWL_LO <= mwl <= _MWL_HI), \
            ns < _MIN_STOP_TYPES
        a[1] += fs
        a[2] += fm
        a[3] += fp
        a[4] += not (fs or fm or fp)
    want = sorted((k, *v) for k, v in agg.items())
    out = [(r["source"], r["n_docs"], r["n_fail_short"], r["n_fail_mwl"],
            r["n_fail_stop"], r["n_pass"])
           for r in _fn("gopher_quality_filters")(spark, sf_dir).collect()]
    assert out == want
    # every rule non-vacuous both ways at this SF
    tot = [sum(v[i] for v in agg.values()) for i in range(5)]
    assert all(0 < tot[i] < tot[0] for i in (1, 2, 3)), tot
    assert 0 < tot[4] < tot[0], tot


def _top_bigram_share(t):
    if len(t) < 2:
        return None
    bgs = Counter(zip(t, t[1:]))
    return max(bgs.values()) * 1000 // (len(t) - 1)


def test_doc_repetition_audit_matches_python(spark, sf_dir):
    rows = []
    for r in _docs(sf_dir).itertuples(index=False):
        t = _toks(r.text)
        if len(t) < 2:
            continue
        bgs = Counter(zip(t, t[1:]))
        top_n = max(bgs.values())
        rows.append((r.doc_id, len(t) - 1, top_n,
                     top_n * 1000 // (len(t) - 1)))
    rows.sort(key=lambda x: (-x[3], x[0]))
    want = rows[:20]
    out = [(r["doc_id"], r["nbg"], r["top_n"], r["top_share_pm"])
           for r in _fn("doc_repetition_audit")(spark, sf_dir).collect()]
    assert out == want
    assert out[0][3] > out[-1][3], "flat shares — vacuous ordering"


def test_quality_filter_funnel_matches_python(spark, sf_dir):
    s = [0, 0, 0, 0, 0]
    for r in _docs(sf_dir).itertuples(index=False):
        t = _toks(r.text)
        nw, mwl, ns = _metrics(t)
        share = _top_bigram_share(t) or 0
        s[0] += 1
        p1 = nw >= _MIN_WORDS
        p2 = p1 and _MWL_LO <= mwl <= _MWL_HI
        p3 = p2 and ns >= _MIN_STOP_TYPES
        p4 = p3 and share <= _MAX_TOP_BIGRAM_PM
        s[1] += p1
        s[2] += p2
        s[3] += p3
        s[4] += p4
    out = [(r["stage"], r["rule"], r["n_surviving"], r["n_dropped_here"])
           for r in _fn("quality_filter_funnel")(spark, sf_dir).collect()]
    want = [(0, "all", s[0], 0),
            (1, "min_words", s[1], s[0] - s[1]),
            (2, "mean_word_length", s[2], s[1] - s[2]),
            (3, "stopword_types", s[3], s[2] - s[3]),
            (4, "repetition", s[4], s[3] - s[4])]
    assert out == want
    # funnel is strictly ordered and every stage drops someone at this SF
    assert s[0] > s[1] > s[2] > s[3] >= s[4], s


def _grams13(t):
    return {" ".join(t[i:i + 13]) for i in range(len(t) - 12)} \
        if len(t) >= 13 else set()


def test_contamination_13gram_matches_python(spark, sf_dir):
    bench, train_grams = {}, set()
    for r in _docs(sf_dir).itertuples(index=False):
        g = _grams13(_toks(r.text))
        if not g:
            continue
        if r.doc_id % 10 == 7:
            bench[r.doc_id] = g
        else:
            train_grams |= g
    want = [(d, len(g), len(g & train_grams),
             len(g & train_grams) * 10**6 // len(g),
             bool(g & train_grams))
            for d, g in sorted(bench.items())]
    out = [(r["doc_id"], r["n_grams"], r["n_hit"], r["hit_ppm"],
            r["contaminated"])
           for r in _fn("contamination_13gram_audit")(spark, sf_dir)
           .collect()]
    assert out == want
    assert any(c for *_, c in out), "no contaminated bench docs — vacuous"
    assert not all(c for *_, c in out), "every doc contaminated — vacuous"


def test_decontam_drop_plan_matches_python(spark, sf_dir):
    bench_grams = set()
    docs = list(_docs(sf_dir).itertuples(index=False))
    for r in docs:
        if r.doc_id % 10 == 7:
            bench_grams |= _grams13(_toks(r.text))
    agg = defaultdict(lambda: [0, 0])
    for r in docs:
        if r.doc_id % 10 == 7:
            continue
        a = agg[r.source]
        a[0] += 1
        a[1] += bool(_grams13(_toks(r.text)) & bench_grams)
    want = sorted((k, v[0], v[1], v[1] * 10**6 // v[0])
                  for k, v in agg.items())
    out = [(r["source"], r["n_train"], r["n_drop"], r["drop_ppm"])
           for r in _fn("decontam_drop_plan")(spark, sf_dir).collect()]
    assert out == want
    assert sum(v[1] for v in agg.values()) > 0, "zero drops — vacuous"


def test_unigram_surprise_matches_python(spark, sf_dir):
    freq = Counter()
    toks = {}
    for r in _docs(sf_dir).itertuples(index=False):
        t = _toks(r.text)
        toks[r.doc_id] = t
        freq.update(t)
    rows = [(d, len(t), sum(10**6 // freq[w] for w in t) // len(t))
            for d, t in toks.items() if t]
    rows.sort(key=lambda x: (-x[2], x[0]))
    want = rows[:20]
    out = [(r["doc_id"], r["nw"], r["surprise_u"])
           for r in _fn("unigram_surprise_proxy")(spark, sf_dir).collect()]
    assert out == want


def test_ngram_coverage_curve_matches_python(spark, sf_dir):
    freq = Counter()
    for r in _docs(sf_dir).itertuples(index=False):
        freq.update(_toks(r.text))
    ordered = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(freq.values())
    want = []
    for target in (500, 900, 990):
        cum = 0
        for i, (_, f) in enumerate(ordered, start=1):
            cum += f
            if cum * 1000 >= target * total:
                want.append((target, i, cum))
                break
    out = [(r["target_pm"], r["n_types"], r["cum_tokens"])
           for r in _fn("ngram_coverage_curve")(spark, sf_dir).collect()]
    assert out == want
    # the curve is non-degenerate: more types needed for more coverage
    assert out[0][1] < out[1][1] <= out[2][1], out


def test_curation_keep_report_matches_python(spark, sf_dir):
    first_by_canon = {}
    docs = list(_docs(sf_dir).itertuples(index=False))
    for r in sorted(docs, key=lambda x: x.doc_id):
        c = " ".join(_toks(r.text))
        first_by_canon.setdefault(c, r.doc_id)
    agg = defaultdict(lambda: [0, 0, 0])
    for r in docs:
        t = _toks(r.text)
        nw, mwl, ns = _metrics(t)
        keep = first_by_canon[" ".join(t)] == r.doc_id
        q = (nw >= _MIN_WORDS and _MWL_LO <= mwl <= _MWL_HI
             and ns >= _MIN_STOP_TYPES)
        a = agg[r.source]
        a[0] += 1
        a[1] += keep
        a[2] += keep and q
    want = sorted((k, v[0], v[1], v[2], v[2] * 10**6 // v[0])
                  for k, v in agg.items())
    out = [(r["source"], r["n_docs"], r["n_after_dedup"],
            r["n_after_quality"], r["keep_ppm"])
           for r in _fn("curation_keep_report")(spark, sf_dir).collect()]
    assert out == want


def test_r14_wave_is_registered_live():
    assert_module_registered("queries_r14")


def test_r14_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r14")


def test_r14_staged_oracles_bind_in_duckdb(sf_dir):
    assert not unbound_oracles(sf_dir, declared_names("queries_r14"))


def test_quality_queries_survive_zero_token_docs(spark, sf_dir, tmp_path):
    """r12 review: a zero-token document (empty/whitespace text) must not
    ANSI-crash the metric battery — mwl_e3 becomes NULL (matching the
    oracle's NULL list_sum over an empty list), the length rule already
    fails the doc, and every quality query still hash-matches."""
    import duckdb

    from gan_deeplearning4j_spark.queries import REGISTRY

    d = tmp_path / "with_empty"
    d.mkdir()
    con = duckdb.connect()
    con.execute(f"""COPY (
      SELECT * FROM '{sf_dir}/documents.parquet'
      UNION ALL SELECT 9999, '   ', 'en', 'src0', 3
      UNION ALL SELECT 9998, '', 'en', 'src1', 0
    ) TO '{d}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    for name in ("gopher_quality_filters", "quality_filter_funnel",
                 "curation_keep_report"):
        q = REGISTRY[name]
        sdf = q.fn(spark, str(d)).toPandas()
        odf = con.sql(q.oracle).df()
        cols = sorted(sdf.columns)

        def canon(df):
            return sorted(tuple(str(x) for x in r)
                          for r in df[cols].itertuples(index=False))

        assert canon(sdf) == canon(odf), name
