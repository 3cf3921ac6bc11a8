"""Round-13 wave pins (queries_r15.py, flipped LIVE in round 13):
pure-python replays for the Spark-4-surface + embedding-audit wave —
hash parity is covered by the driver replica; these pin the SEMANTICS
against an independent reimplementation (numpy/stdlib)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from functools import reduce

import numpy as np
import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY
from registry_checks import (
    assert_module_registered,
    assert_window_covers,
    declared_names,
    unbound_oracles,
)


def _fn(name):
    return REGISTRY[name].fn


def test_grouping_id_rollup_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_linestatus",
                                  "l_extendedprice"])
    agg = defaultdict(lambda: [0, 0])
    for r in li.itertuples(index=False):
        cents = math.floor(abs(r.l_extendedprice) * 100 + 0.5)
        for key in ((r.l_returnflag, r.l_linestatus),
                    (r.l_returnflag, None), (None, None)):
            a = agg[key]
            a[0] += 1
            a[1] += cents
    rows = []
    for (rf, ls), (n, c) in agg.items():
        g1, g2 = int(rf is None), int(ls is None)
        rows.append((2 * g1 + g2, rf or "ALL", ls or "ALL", g1, g2, n, c))
    rows.sort()
    want = [(rf, ls, g1, g2, gid, n, c)
            for gid, rf, ls, g1, g2, n, c in rows]
    out = [(r["rflag"], r["lstat"], r["g_rflag"], r["g_lstat"], r["gid"],
            r["n_rows"], r["cents"])
           for r in _fn("grouping_id_rollup_audit")(spark, sf_dir)
           .collect()]
    assert out == want
    # all three rollup levels present
    assert {r[4] for r in out} == {0, 1, 3}


def test_xml_xpath_extract_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderpriority", "o_totalprice",
                                 "o_orderstatus"])
    agg = defaultdict(lambda: [0, 0, 0])
    for r in o.itertuples(index=False):
        a = agg[r.o_orderpriority]
        a[0] += 1
        a[1] += math.floor(abs(r.o_totalprice) * 100 + 0.5)
        a[2] += r.o_orderstatus == "O"
    want = sorted((p, n, c, op, n) for p, (n, c, op) in agg.items())
    out = [(r["pri"], r["n"], r["cents_via_xpath"], r["n_open_via_xpath"],
            r["n_struct_match"])
           for r in _fn("xml_xpath_extract")(spark, sf_dir).collect()]
    assert out == want


def test_regr_native_bracket_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_quantity",
                                  "l_discount"])
    mo = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in li.itertuples(index=False):
        x = int(r.l_quantity)
        y = math.floor(r.l_discount * 10000 + 0.5)
        a = mo[r.l_returnflag]
        a[0] += 1
        a[1] += x
        a[2] += y
        a[3] += x * y
        a[4] += x * x
    want = []
    for flag in sorted(mo):
        n, sx, sy, sxy, sxx = mo[flag]
        slope = (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
        icept = (sy - slope * sx) / n
        want.append((flag, n, sx, sy, math.floor(slope * 1e9), True,
                     math.floor(icept * 1e6), True))
    out = [(r["l_returnflag"], r["n"], r["sx"], r["sy"], r["slope_e9"],
            r["slope_ok"], r["icept_e6"], r["icept_ok"])
           for r in _fn("regr_native_bracket")(spark, sf_dir).collect()]
    assert out == want


def test_mode_median_family_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_quantity"])
    groups = defaultdict(list)
    for r in li.itertuples(index=False):
        groups[r.l_returnflag].append(int(r.l_quantity))
    want = []
    for flag in sorted(groups):
        qs = sorted(groups[flag])
        n = len(qs)
        mode_count = max(Counter(qs).values())
        med = (qs[(n - 1) // 2] + qs[n // 2]) / 2
        # percentile_disc(0.5): smallest value with cume_dist >= 0.5
        p50 = qs[math.ceil(n * 0.5) - 1]
        want.append((flag, mode_count, True, int(med * 10), p50))
    out = [(r["l_returnflag"], r["mode_count"], r["mode_in_argmax"],
            r["median_qty_x10"], r["p50_disc"])
           for r in _fn("mode_median_family")(spark, sf_dir).collect()]
    assert out == want


def test_bitwise_agg_audit_matches_python(spark, sf_dir):
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet",
                         columns=["c_mktsegment", "c_custkey"])
    groups = defaultdict(list)
    for r in cu.itertuples(index=False):
        groups[r.c_mktsegment].append(int(r.c_custkey))
    want = sorted(
        (seg, len(ks),
         reduce(lambda a, b: a & b, ks),
         reduce(lambda a, b: a | b, ks),
         reduce(lambda a, b: a ^ b, ks))
        for seg, ks in groups.items()
    )
    out = [(r["c_mktsegment"], r["n"], r["key_and"], r["key_or"],
            r["key_xor"])
           for r in _fn("bitwise_agg_audit")(spark, sf_dir).collect()]
    assert out == want


def test_approx_topk_bracket_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity"])
    cnt = Counter(int(q) for q in li.l_quantity)
    top5 = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    want = [(q, c, True) for q, c in top5]
    out = [(r["q"], r["c"], r["in_sketch"])
           for r in _fn("approx_topk_bracket")(spark, sf_dir).collect()]
    assert out == want


def _fixed(v):
    return np.floor(np.asarray(v, dtype=np.float64) * (1 << 20)).astype(
        np.int64)


def test_embedding_int8_quant_matches_python(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    agg = defaultdict(list)
    for r in emb.itertuples(index=False):
        v = _fixed(r.embedding)
        amax = int(np.abs(v).max())
        if amax == 0:
            continue
        e127 = 127 * v
        q = np.trunc(e127 / amax).astype(np.int64)  # trunc toward zero
        # exact: q = (127*v) trunc-div amax, so recompute in ints
        q = np.sign(e127) * (np.abs(e127) // amax)
        max_e = int(np.abs(e127 - q * amax).max())
        agg[int(r.label)].append(max_e * 10**6 // (127 * amax))
    want = sorted((lb, len(p), max(p), sum(p) // len(p))
                  for lb, p in agg.items())
    out = [(r["label"], r["n_vecs"], r["worst_ppm"], r["avg_ppm"])
           for r in _fn("embedding_int8_quant_audit")(spark, sf_dir)
           .collect()]
    assert out == want
    assert any(w > 0 for _, _, w, _ in want), "all-zero error — vacuous"


def test_matryoshka_truncation_matches_python(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {int(r.vec_id): _fixed(r.embedding)
            for r in emb.itertuples(index=False)}
    rows = []
    for i, va in vecs.items():
        if i % 10 != 0 or (i + 1) not in vecs:
            continue
        vb = vecs[i + 1]

        def cos_e6(k):
            dot = int((va[:k] * vb[:k]).sum())
            na = int((va[:k] * va[:k]).sum())
            nb = int((vb[:k] * vb[:k]).sum())
            return math.floor(dot / math.sqrt(float(na) * float(nb)) * 1e6)

        c16, c64 = cos_e6(16), cos_e6(64)
        rows.append((i, i + 1, c16, c64, abs(c64 - c16)))
    rows.sort(key=lambda x: (-x[4], x[0]))
    want = rows[:20]
    out = [(r["id_a"], r["id_b"], r["cos16_e6"], r["cos64_e6"],
            r["drift_e6"])
           for r in _fn("matryoshka_truncation_audit")(spark, sf_dir)
           .collect()]
    assert out == want
    assert want[0][4] > 0, "zero drift everywhere — vacuous"


def test_r15_wave_is_registered_live():
    assert_module_registered("queries_r15")


def test_r15_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r15")


def test_r15_staged_oracles_bind_in_duckdb(sf_dir):
    assert not unbound_oracles(sf_dir, declared_names("queries_r15"))


def test_corr_covar_bracket_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_quantity",
                                  "l_discount"])
    mo = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for r in li.itertuples(index=False):
        x = int(r.l_quantity)
        y = math.floor(r.l_discount * 10000 + 0.5)
        a = mo[r.l_returnflag]
        a[0] += 1
        a[1] += x
        a[2] += y
        a[3] += x * y
        a[4] += x * x
        a[5] += y * y
    want = []
    for flag in sorted(mo):
        n, sx, sy, sxy, sxx, syy = mo[flag]
        num = (n * sxy - sx * sy) * 1.0
        corr = num / (math.sqrt((n * sxx - sx * sx) * 1.0)
                      * math.sqrt((n * syy - sy * sy) * 1.0))
        covar = num / n / n
        std = math.sqrt((n * syy - sy * sy) * 1.0) / n
        want.append((flag, n, math.floor(corr * 1e9), True,
                     math.floor(covar * 1e6), True,
                     math.floor(std * 1e6), True))
    out = [(r["l_returnflag"], r["n"], r["corr_e9"], r["corr_ok"],
            r["covar_pop_e6"], r["covar_ok"], r["stddev_pop_y_e6"],
            r["stddev_ok"])
           for r in _fn("corr_covar_bracket")(spark, sf_dir).collect()]
    assert out == want


def test_histogram_numeric_bracket_invariants(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag"])
    want = sorted((f, int(n), 8, True, True, True)
                  for f, n in li.l_returnflag.value_counts().items())
    out = [(r["l_returnflag"], r["n"], r["n_bins"], r["weights_sum_to_n"],
            r["centroids_in_range"], r["centroids_sorted"])
           for r in _fn("histogram_numeric_bracket")(spark, sf_dir)
           .collect()]
    assert out == want
