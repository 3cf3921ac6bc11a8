"""Round-9 query pins: pure-python replays (hash parity is covered
by the replica runs; these pin the SEMANTICS against an independent
reimplementation)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY


def _fn(name):
    return REGISTRY[name].fn


def _rot(n, x, y, rx, ry):
    if ry == 0:
        if rx == 1:
            x, y = n - 1 - x, n - 1 - y
        x, y = y, x
    return x, y


def _xy2d(n, x, y):
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        x, y = _rot(n, x, y, rx, ry)
        s //= 2
    return d


def test_hilbert_audit_matches_reference_curve(spark, sf_dir):
    """The unrolled bit-arithmetic Hilbert index equals the canonical
    xy2d (true Hilbert: consecutive indices are unit grid steps), and the
    query's cluster totals equal a python sweep of all 225 windows."""
    n = 64
    d2xy = {}
    for x in range(n):
        for y in range(n):
            d2xy[_xy2d(n, x, y)] = (x, y)
    assert len(d2xy) == n * n
    assert all(
        abs(d2xy[i][0] - d2xy[i + 1][0]) + abs(d2xy[i][1] - d2xy[i + 1][1])
        == 1
        for i in range(n * n - 1)
    )

    def zorder(x, y):
        d = 0
        for b in range(6):
            d |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return d

    curves = {
        "hilbert": lambda x, y: _xy2d(n, x, y),
        "zorder": zorder,
        "rowmajor": lambda x, y: y * n + x,
    }
    want = {}
    for name, c in curves.items():
        total = 0
        for qx in range(0, n - 8 + 1, 4):
            for qy in range(0, n - 8 + 1, 4):
                idx = sorted(
                    c(x, y)
                    for x in range(qx, qx + 8)
                    for y in range(qy, qy + 8)
                )
                total += 1 + sum(
                    1 for i in range(1, len(idx)) if idx[i] != idx[i - 1] + 1
                )
        want[name] = total
    out = _fn("hilbert_order_audit")(spark, sf_dir).toPandas()
    got = dict(zip(out["curve"], out["total_clusters"]))
    assert got == want
    assert (out["n_distinct_indexes"] == 4096).all()
    # the audit's point: hilbert needs fewer scan ranges than z-order
    assert got["hilbert"] < got["zorder"] < got["rowmajor"]


def test_unigram_viterbi_dominates_greedy_wordpiece(spark, sf_dir):
    """Global-optimality pin: for every word, the Viterbi best score is
    >= the unigram score of the greedy WordPiece segmentation (same
    vocabulary, same piece scores) — exactly where greedy loses."""
    wp = _fn("wordpiece_tokenize_fixed")(spark, sf_dir).toPandas()
    ug = _fn("unigram_lm_segment_fixed")(spark, sf_dir).toPandas()
    # rebuild the shared vocab + scores in python
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    import re

    words = sorted(
        {
            t
            for text in docs["text"]
            for t in text.split(" ")
            if re.fullmatch(r"[a-z]{2,12}", t)
        }
    )
    occ: dict[str, int] = {}
    for w in words:
        for ln in (1, 2, 3):
            for i in range(len(w) - ln + 1):
                g = w[i:i + ln]
                occ[g] = occ.get(g, 0) + 1
    bg = sorted(
        ((g, c) for g, c in occ.items() if len(g) == 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:15]
    tg = sorted(
        ((g, c) for g, c in occ.items() if len(g) == 3),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    vocab = {g for g in occ if len(g) == 1}
    vocab |= {g for g, _ in bg} | {g for g, _ in tg}
    score = {g: 1000 * len(g) + occ[g].bit_length() for g in vocab}

    best = dict(zip(ug["word"], ug["best_score"]))
    assert set(best) == set(words)
    for _, row in wp.iterrows():
        pieces = [p for p in row["pieces"].split("|") if p]
        assert "".join(pieces) == row["word"]
        assert all(p in vocab for p in pieces)
        greedy_score = sum(score[p] for p in pieces)
        assert greedy_score <= best[row["word"]], row["word"]


def test_knapsack_matches_python_dp(spark, sf_dir):
    """The engine-side 201-cell DP fold equals a python 0/1 knapsack."""
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    top = part.sort_values(
        ["p_retailprice", "p_partkey"], ascending=[False, True]
    ).head(30)
    items = [
        (int(w), int(np.floor(v + 0.5)))   # SQL round: half-away-from-zero
        for w, v in zip(top["p_size"], top["p_retailprice"])
    ]
    dp = [0] * 201
    for w, v in items:
        dp = [
            max(dp[c], dp[c - w] + v) if c >= w else dp[c]
            for c in range(201)
        ]
    out = _fn("knapsack_budget_parts")(spark, sf_dir).collect()[0]
    assert (out["best_value_50"], out["best_value_100"],
            out["best_value_200"]) == (dp[50], dp[100], dp[200])


def test_croston_matches_python_fold(spark, sf_dir):
    """Two interleaved e3-integer SES streams, python-replayed with the
    same trunc-toward-zero division."""
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_shipdate", "l_quantity"]
    )
    d = li[li["l_quantity"] == 50]
    days = (
        d["l_shipdate"].astype("datetime64[us]").dt.normalize()
        .value_counts().sort_index()
    )
    epoch = pd.Timestamp("1970-01-01")
    series = [((idx - epoch).days, int(x)) for idx, x in days.items()]
    z = series[0][1] * 1000
    p = 1000
    for (d0, _x0), (d1, x1) in zip(series, series[1:]):
        gap = d1 - d0
        z = z + int((x1 * 1000 - z) / 5)   # trunc toward zero
        p = p + int((gap * 1000 - p) / 5)
    out = _fn("croston_intermittent_demand")(spark, sf_dir).collect()[0]
    assert out["n_demand_days"] == len(series)
    assert (out["z_hat_e3"], out["p_hat_e3"]) == (z, p)
    assert out["rate_e3"] == z * 1000 // p


def test_kmv_set_ops_matches_hashlib(spark, sf_dir):
    """Bottom-k estimates replayed with python hashlib md5."""
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_returnflag", "l_linestatus"],
    )

    def h(k):
        return int(
            hashlib.md5(f"p{k}".encode()).hexdigest()[:13], 16
        )

    a = {h(k) for k in li.loc[li["l_returnflag"] == "R", "l_partkey"]}
    b = {h(k) for k in li.loc[li["l_linestatus"] == "O", "l_partkey"]}
    ska, skb = set(sorted(a)[:64]), set(sorted(b)[:64])
    sku = sorted(ska | skb)[:64]
    kth, k = sku[-1], len(sku)
    est_union = (k - 1) * 2**52 // kth
    m = sum(1 for x in sku if x in ska and x in skb)
    out = _fn("kmv_set_ops_estimate")(spark, sf_dir).collect()[0]
    assert (out["k"], out["sketch_overlap"]) == (k, m)
    assert out["est_union"] == est_union
    assert out["est_inter"] == m * est_union // k
    # the estimates are in the right ballpark of the exact answers
    assert abs(out["est_union"] - out["exact_union"]) <= out["exact_union"]


def test_wav_zcr_matches_formula_replay(spark, sf_dir):
    """Per-frame zero-crossing counts and peaks equal a numpy replay of
    the md5 sample formula — certifying the codec roundtrip preserves
    sample ORDER (energy alone is permutation-blind)."""
    out = _fn("wav_zcr_frames")(spark, sf_dir).toPandas()
    rows = []
    for clip in range(32):
        v = np.array(
            [
                int(
                    hashlib.md5(f"wav|{clip}|{i}".encode()).hexdigest()[:15],
                    16,
                )
                % 65536
                - 32768
                for i in range(800)
            ],
            dtype=np.int64,
        ).reshape(-1, 160)
        flips = ((v[:, :-1] >= 0) != (v[:, 1:] >= 0)).sum(axis=1)
        peak = np.abs(v).max(axis=1)
        for fr in range(v.shape[0]):
            rows.append((clip, fr, int(flips[fr]), int(peak[fr])))
    want = pd.DataFrame(rows, columns=["clip", "frame_no", "zcr", "peak"])
    got = out.sort_values(["clip", "frame_no"]).reset_index(drop=True)
    assert got.equals(want)


def test_greedy_max_coverage_matches_python(spark, sf_dir):
    """5-round submodular greedy replayed in python over the same
    top-60-bigram masks (ties by count desc then gram, then doc_id)."""
    import re

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    cnt: dict[str, int] = {}
    doc_grams: dict[int, list[str]] = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        ws = [t for t in text.split(" ")
              if re.fullmatch(r"[a-z]{2,12}", t)]
        gs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        doc_grams[int(did)] = gs
        for g in gs:
            cnt[g] = cnt.get(g, 0) + 1
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:60]
    wid = {g: i for i, (g, _c) in enumerate(top)}
    masks = {
        did: sum(1 << wid[g] for g in {g for g in gs if g in wid})
        for did, gs in doc_grams.items()
        if any(g in wid for g in gs)
    }
    covered, picked, want = 0, set(), []
    for rnd in range(1, 6):
        best = max(
            ((did, m) for did, m in masks.items() if did not in picked),
            key=lambda dm: (bin(dm[1] | covered).count("1"), -dm[0]),
        )
        gain = bin(best[1] | covered).count("1") - bin(covered).count("1")
        covered |= best[1]
        picked.add(best[0])
        want.append((rnd, best[0], gain, bin(covered).count("1")))
    out = [tuple(r) for r in
           _fn("greedy_max_coverage")(spark, sf_dir).collect()]
    assert out == want


def test_gonzalez_kcenter_matches_numpy(spark, sf_dir):
    """Farthest-first traversal replayed with numpy int64 distances."""
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    X = np.floor(
        np.stack(emb["embedding"].to_numpy()[order]).astype(np.float64)
        * 1024
    ).astype(np.int64)
    centers = [0]                      # index of min vec_id
    want = [(1, int(ids[0]), 0)]
    mind = ((X - X[0]) ** 2).sum(axis=1)
    for rnd in range(2, 6):
        # argmax of (d2 desc, vec_id asc): ids sorted asc -> first argmax
        best = int(np.argmax(mind))
        want.append((rnd, int(ids[best]), int(mind[best])))
        centers.append(best)
        if rnd < 5:
            nd = ((X - X[best]) ** 2).sum(axis=1)
            mind = np.minimum(mind, nd)
    out = [tuple(r) for r in
           _fn("gonzalez_kcenter_fixed")(spark, sf_dir).collect()]
    assert out == want


def test_token_bucket_matches_python_fold(spark, sf_dir):
    """Admission decisions replayed in python with the same integer
    micro-token arithmetic (capacity 5, cost 1, refill 1/10s)."""
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id"]
    )
    ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype(np.int64)
    want = {}
    for uid, g in ev.sort_values(["ts_us", "event_id"]).groupby("user_id"):
        tokens, admitted = 5_000_000, 0
        prev = None
        for t in g["ts_us"]:
            dt = 0 if prev is None else int(t - prev)
            prev = t
            tokens = min(5_000_000, tokens + dt // 10)
            if tokens >= 1_000_000:
                tokens -= 1_000_000
                admitted += 1
        want[int(uid)] = (len(g), admitted, len(g) - admitted, tokens)
    out = _fn("token_bucket_admissions")(spark, sf_dir).collect()
    got = {
        r["user_id"]: (r["n_events"], r["n_admitted"], r["n_denied"],
                       r["tokens_left_micro"])
        for r in out
    }
    assert got == want


# ---------------------------------------------------------------------------
# Round-9 LIVE-addition pins (same replay discipline as the staged wave)
# ---------------------------------------------------------------------------

def _tdiv(a, b):  # truncation toward zero == Spark div / DuckDB //
    return -((-a) // b) if (a < 0) != (b < 0) else a // b


def test_kruskal_wallis_matches_python(spark, sf_dir):
    import math

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["source", "n_chars"])
    vc = docs.groupby("n_chars").size().sort_index()
    before = vc.cumsum() - vc
    rank2 = {v: 2 * int(before[v]) + int(vc[v]) + 1 for v in vc.index}
    g = docs.assign(r2=docs["n_chars"].map(rank2)).groupby("source")
    n_j = g.size()
    r2_j = g["r2"].sum()
    s = int(sum(int(r2_j[k]) ** 2 // (4 * int(n_j[k])) for k in n_j.index))
    t3t = int(sum(int(t) ** 3 - int(t) for t in vc))
    n = len(docs)
    h = 12.0 * s / (n * (n + 1.0)) - 3.0 * (n + 1)
    row = _fn("kruskal_wallis_sources")(spark, sf_dir).collect()[0]
    assert row["n_total"] == n
    assert row["sum_rank_sq_over_n"] == s
    assert row["tie_cube_sum"] == t3t
    assert row["h_e6"] == math.floor(h * 1e6)
    assert row["h_tie_e6"] == math.floor(
        h * (float(n) * n * n - n) / (float(n) * n * n - n - t3t) * 1e6
    )


def test_brier_decomposition_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_id", "event_type"])
    ev["purch"] = (ev["event_type"] == "purchase").astype(int)
    ev["even"] = (ev["event_id"] % 2 == 0)
    agg = ev.groupby("user_id").apply(
        lambda gg: pd.Series({
            "n_even": int(gg["even"].sum()),
            "p_even": int(gg.loc[gg["even"], "purch"].sum()),
            "n_odd": int((~gg["even"]).sum()),
            "p_odd": int(gg.loc[~gg["even"], "purch"].sum()),
        }), include_groups=False)
    agg = agg[(agg["n_even"] > 0) & (agg["n_odd"] > 0)]
    agg["bin"] = (1000 * agg["p_even"] // agg["n_even"] // 100).clip(upper=9)
    bins = agg.groupby("bin")[["n_odd", "p_odd"]].sum()
    N, X = int(bins["n_odd"].sum()), int(bins["p_odd"].sum())
    want = {}
    for b, r in bins.iterrows():
        nk, xk = int(r["n_odd"]), int(r["p_odd"])
        f = int(b) * 100 + 50
        want[int(b)] = (
            f, nk, xk,
            (f * nk - 1000 * xk) ** 2 // nk,
            ((N * xk - X * nk) // 1000) ** 2 // nk,
        )
    out = _fn("brier_decomposition")(spark, sf_dir).collect()
    got = {r["bin"]: (r["f_permille"], r["n_k"], r["x_k"],
                      r["rel_term"], r["res_term"]) for r in out}
    assert got == want


def test_ljung_box_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate"])
    days = (o["o_orderdate"].dt.floor("D").astype("datetime64[s]")
            .astype(np.int64) // 86400)
    c = days.value_counts().sort_index()
    n, s = len(c), int(c.sum())
    d = {int(k): int(v) - s // n for k, v in c.items()}
    g0 = sum(v * v for v in d.values())
    out = {r["lag"]: (r["gamma_k"], r["acf_e6"], r["q_e6"])
           for r in _fn("ljung_box_whiteness")(spark, sf_dir).collect()}
    acc = 0
    for k in range(1, 8):
        gk = sum(d[day] * d[day + k] for day in d if day + k in d)
        acf = _tdiv(gk * 1_000_000, g0)
        acc += _tdiv(acf * acf, n - k)
        assert out[k] == (gk, acf, _tdiv(n * (n + 2) * acc, 1_000_000)), k


def test_decision_stump_matches_python(spark, sf_dir):
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_quantity", "l_discount", "l_tax", "l_returnflag"],
    )
    qty = li["l_quantity"].to_numpy()
    disc = np.round(li["l_discount"].to_numpy() * 100).astype(np.int64)
    tax = np.round(li["l_tax"].to_numpy() * 100).astype(np.int64)
    y = (li["l_returnflag"] == "R").to_numpy().astype(np.int64)
    N, P = len(li), int(y.sum())
    feats = {"quantity": qty, "discount_c": disc, "tax_c": tax}
    cands = [("quantity", t) for t in (10, 20, 30, 40)] + \
            [("discount_c", t) for t in (2, 4, 6, 8)] + \
            [("tax_c", t) for t in (2, 4, 6)]
    want = {}
    for f, t in cands:
        m = feats[f] <= t
        n_l, p_l = int(m.sum()), int(y[m].sum())
        n_r, p_r = N - n_l, P - p_l
        gl = 0 if n_l == 0 else 2 * p_l * (n_l - p_l) * 1_000_000 // n_l
        gr = 0 if n_r == 0 else 2 * p_r * (n_r - p_r) * 1_000_000 // n_r
        want[(f, t)] = (n_l, p_l, (gl + gr) // N)
    out = _fn("decision_stump_split")(spark, sf_dir).collect()
    got = {(r["feature"], r["thr"]): (r["n_l"], r["p_l"], r["gini_e6"])
           for r in out}
    assert got == want
    # output is sorted by impurity: the first row is the argmin stump
    assert out[0]["gini_e6"] == min(v[2] for v in want.values())


def test_theil_decomposition_matches_python(spark, sf_dir):
    import math

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    cst = pd.read_parquet(f"{sf_dir}/customer.parquet",
                          columns=["c_custkey", "c_nationkey"])
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet",
                          columns=["n_nationkey", "n_name"])
    o["cents"] = np.round(o["o_totalprice"] * 100).astype(np.int64)
    m = o.merge(cst, left_on="o_custkey", right_on="c_custkey")
    per = m.groupby(["c_custkey", "c_nationkey"])["cents"].sum() // 100
    per = per[per > 0]

    def L(z):
        return math.floor(math.log(z) * 1e6)

    df = per.reset_index(name="x")
    g = df.groupby("c_nationkey")
    n_g, s_g = g.size(), g["x"].sum()
    w_g = g["x"].apply(lambda xs: int(sum(int(x) * L(int(x)) for x in xs)))
    N, S = int(n_g.sum()), int(s_g.sum())
    name = nat.set_index("n_nationkey")["n_name"]
    want = {}
    for k in n_g.index:
        ng, sg, wg = int(n_g[k]), int(s_g[k]), int(w_g[k])
        want[name[k]] = (
            ng, sg,
            wg // sg - L(sg) + L(ng),
            _tdiv(sg * (L(sg) - L(S) - L(ng) + L(N)), S),
        )
    out = _fn("theil_inequality_decomposition")(spark, sf_dir).collect()
    got = {r["n_name"]: (r["n_g"], r["s_dollars"], r["theil_within_e6"],
                         r["between_term_e6"]) for r in out}
    assert got == want


def test_littles_law_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id"])
    ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype(np.int64)
    DAY = 86_400_000_000
    spans = []
    for _, g in ev.sort_values(["ts_us", "event_id"]).groupby("user_id"):
        st = prev = None
        for t in g["ts_us"]:
            if prev is None or t - prev > 1_800_000_000:
                if st is not None:
                    spans.append((st, prev))
                st = t
            prev = t
        spans.append((st, prev))
    started, overlap = {}, {}
    for st, en in spans:
        day = st // DAY
        ns, dur = started.get(day, (0, 0))
        started[day] = (ns + 1, dur + (en - st))
        for day2 in range(st // DAY, en // DAY + 1):
            ov = min(en, (day2 + 1) * DAY) - max(st, day2 * DAY)
            overlap[day2] = overlap.get(day2, 0) + ov
    out = _fn("littles_law_audit")(spark, sf_dir).collect()
    got = {r["day"]: (r["n_started"], r["sum_duration_us"],
                      r["sum_overlap_us"], r["little_ratio_ppm"])
           for r in out}
    want = {}
    for day, (ns, dur) in started.items():
        ov = overlap.get(day, 0)
        want[day] = (ns, dur, ov, None if dur == 0 else ov * 1_000_000 // dur)
    assert got == want


def test_dft_power_matches_numpy(spark, sf_dir):
    import math

    from gan_deeplearning4j_spark.queries_r9 import _DFT_TABLES

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    day = (o["o_orderdate"].dt.floor("D").astype("datetime64[s]")
           .astype(np.int64) // 86400)
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    c = pd.Series(cents).groupby(day).sum()
    n, s = len(c), int(c.sum())
    d = c - s // n
    out = {r["period"]: (r["x_milli"], r["y_milli"], r["power_est"])
           for r in _fn("dft_power_topfreq")(spark, sf_dir).collect()}
    for p, (ct, st) in _DFT_TABLES.items():
        x = int(sum(int(v) * ct[int(dd) % p] for dd, v in d.items()))
        y = int(sum(int(v) * st[int(dd) % p] for dd, v in d.items()))
        pw = math.floor((float(x) * x + float(y) * y) / 1e18)
        assert out[p] == (x, y, pw), p


def test_lz78_matches_python_parse(spark, sf_dir):
    import re

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["source", "text"])
    agg = {}
    for src, text in zip(docs["source"], docs["text"]):
        toks = [t for t in text.split(" ") if re.fullmatch("[a-z]+", t)][:120]
        if not toks:
            continue
        d, cur = [], ""
        for t in toks:
            cand = t if cur == "" else cur + " " + t
            if cand in d:
                cur = cand
            else:
                d.append(cand)
                cur = ""
        np_, nt = len(d) + (1 if cur else 0), len(toks)
        nd, st, sp = agg.get(src, (0, 0, 0))
        agg[src] = (nd + 1, st + nt, sp + np_)
    out = _fn("lz78_phrase_complexity")(spark, sf_dir).collect()
    got = {r["source"]: (r["n_docs"], r["sum_tokens"], r["sum_phrases"],
                         r["phrases_per_100tok"]) for r in out}
    want = {s: (nd, st, sp, sp * 100 // st)
            for s, (nd, st, sp) in agg.items()}
    assert got == want


def test_ppr_matches_python_iteration(spark, sf_dir):
    from collections import Counter, defaultdict
    from itertools import combinations

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    per_order = li.drop_duplicates().groupby("l_orderkey")["l_partkey"].apply(
        sorted
    )
    pc = Counter()
    for parts in per_order:
        for a, b in combinations(parts, 2):
            pc[(a, b)] += 1
    und = defaultdict(list)
    for (a, b), w in pc.items():
        if w >= 2:
            und[a].append(b)
            und[b].append(a)
    deg = {u: len(vs) for u, vs in und.items()}
    seed = min(sorted(deg), key=lambda u: (-deg[u], u))
    rank = {u: 1_000_000 if u == seed else 0 for u in und}
    for _ in range(3):
        inflow = defaultdict(int)
        for u, vs in und.items():
            c = rank[u] // deg[u]
            for v in vs:
                inflow[v] += c
        rank = {u: (150_000 if u == seed else 0) + 85 * inflow[u] // 100
                for u in und}
    want = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    out = [(r["node"], r["rank"])
           for r in _fn("ppr_copurchase_topk")(spark, sf_dir).collect()]
    assert out == [(int(n), int(r)) for n, r in want]


def test_f2_ams_matches_hashlib(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    f = ev.groupby("user_id").size()
    z = []
    for j in range(16):
        zj = 0
        for uid, c in f.items():
            h = int(hashlib.md5(
                f"ams|{j}|{uid}".encode()).hexdigest()[:15], 16)
            zj += int(c) * (2 * (h % 2) - 1)
        z.append(zj)
    means = [sum(v * v for v in z[g * 4:(g + 1) * 4]) // 4 for g in range(4)]
    est = (sum(means) - min(means) - max(means)) // 2
    exact = int(sum(int(c) ** 2 for c in f))
    row = _fn("f2_moment_ams")(spark, sf_dir).collect()[0]
    assert (row["f2_exact"], row["f2_est"]) == (exact, est)
    assert row["rel_err_ppm"] == abs(est - exact) * 1_000_000 // exact
    # the sketch should actually estimate (median-of-means concentration)
    assert row["rel_err_ppm"] < 600_000


def test_consistent_hash_matches_hashlib(spark, sf_dir):
    cst = pd.read_parquet(f"{sf_dir}/customer.parquet",
                          columns=["c_custkey"])

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = {i: h60(f"shard|{i}") for i in range(9)}
    moved_mod = moved_ring = 0
    n = len(cst)
    for k in cst["c_custkey"]:
        k = int(k)
        pos = h60(f"key|{k}")

        def assign(m):
            return min(
                range(m),
                key=lambda i: toks[i] if toks[i] > pos
                else toks[i] + (1 << 60),
            )

        moved_mod += (k % 8) != (k % 9)
        moved_ring += assign(8) != assign(9)
    row = _fn("consistent_hash_migration")(spark, sf_dir).collect()[0]
    assert (row["n_keys"], row["moved_mod"], row["moved_ring"]) == (
        n, moved_mod, moved_ring)
    # the whole point: the ring moves ~1/9 of keys, modulo ~8/9
    assert row["moved_ring_ppm"] < 300_000 < row["moved_mod_ppm"]


def test_dp_contribution_bounds_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    c = ev.groupby("user_id").size().astype(int)
    n = len(c)
    vc = c.value_counts().sort_index()
    cum = vc.cumsum()
    p95 = int(cum[cum * 100 >= 95 * n].index[0])
    clipped = c[c > p95]
    row = _fn("dp_contribution_bounds")(spark, sf_dir).collect()[0]
    assert (row["n_users"], row["max_contribution"],
            row["p95_contribution"], row["n_users_clipped"],
            row["sum_excess_clipped"], row["laplace_scale_e6"]) == (
        n, int(c.max()), p95, len(clipped),
        int((clipped - p95).sum()), p95 * 1_000_000)


def test_wav_goertzel_matches_formula_replay(spark, sf_dir):
    import math

    from gan_deeplearning4j_spark.queries_r9 import _GOERTZEL_BINS

    out = {(r["clip"], r["bin_k"]): (r["x_milli"], r["y_milli"],
                                     r["power_est"])
           for r in _fn("wav_goertzel_band_energy")(spark, sf_dir).collect()}
    assert len(out) == 64
    for clip in range(32):
        v = np.array([
            int(hashlib.md5(f"wav|{clip}|{i}".encode()).hexdigest()[:15],
                16) % 65536 - 32768
            for i in range(160)
        ], dtype=np.int64)
        for k, (ct, st) in _GOERTZEL_BINS.items():
            x = int((v * np.asarray(ct, dtype=np.int64)).sum())
            y = int((v * np.asarray(st, dtype=np.int64)).sum())
            pw = math.floor((float(x) * x + float(y) * y) / 1e12)
            assert out[(clip, k)] == (x, y, pw), (clip, k)


def test_holt_winters_matches_python_fold(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate"])
    day = (o["o_orderdate"].dt.floor("D").astype("datetime64[s]")
           .astype(np.int64) // 86400)
    counts = day.value_counts().sort_index()
    day0, day_last = int(counts.index.min()), int(counts.index.max())
    xs = [int(counts.get(d, 0)) for d in range(day0, day_last + 1)]
    n = len(xs)
    lv = sum(xs[:7]) // 7
    tr, sae = 0, 0
    s = [0] * 7
    for j in range(7):
        s[(day0 + j) % 7] = xs[j] - lv
    for i in range(7, n):
        dw = (day0 + i) % 7
        x = xs[i]
        sae += abs(x - lv - tr - s[dw])
        nl = _tdiv(x - s[dw] + lv + tr, 2)
        tr = _tdiv((nl - lv) + 3 * tr, 4)
        s[dw] = _tdiv(x - nl + 3 * s[dw], 4)
        lv = nl
    row = _fn("holt_winters_seasonal")(spark, sf_dir).collect()[0]
    assert (row["n_days"], row["level_final"], row["trend_final"],
            row["season_min"], row["season_max"], row["sum_abs_err"],
            row["mae_ppk"]) == (
        n, lv, tr, min(s), max(s), sae, sae * 1000 // (n - 7))


def test_hill_tail_index_matches_python(spark, sf_dir):
    import math

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    o["xd"] = np.floor(o["o_totalprice"] + 0.5).astype(np.int64)
    cust = o.groupby("o_custkey")["xd"].sum().sort_values(ascending=False)
    top = cust.to_numpy()[:101]
    lxs = [math.floor(math.log(int(x)) * 1e6) for x in top]
    inv = sum(lx - lxs[100] for lx in lxs[:100]) // 100
    row = _fn("hill_tail_index")(spark, sf_dir).collect()[0]
    assert (row["k"], row["x_threshold"], row["hill_inv_e6"],
            row["alpha_e6"]) == (
        100, int(top[100]), inv, 10 ** 12 // inv)


def test_newsvendor_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate"])
    day = (o["o_orderdate"].dt.floor("D").astype("datetime64[s]")
           .astype(np.int64) // 86400)
    d = day.value_counts().sort_index()  # demand per day
    vals = sorted(d.to_list())
    n = len(vals)
    out = {r["scenario"]: (r["cu"], r["co"], r["critical_ratio_ppm"],
                           r["stock_level"])
           for r in _fn("newsvendor_stock_level")(spark, sf_dir).collect()}
    for scen, cu, co in (("understock_costly", 9, 1), ("balanced", 1, 1),
                         ("overstock_costly", 1, 4)):
        # smallest demand value with cum*(cu+co) >= n*cu
        cumn = 0
        lvl = None
        from collections import Counter
        for v, t in sorted(Counter(vals).items()):
            cumn += t
            if cumn * (cu + co) >= n * cu:
                lvl = v
                break
        assert out[scen] == (cu, co, cu * 1_000_000 // (cu + co), lvl), scen
    # monotone in the critical ratio
    assert (out["overstock_costly"][3] <= out["balanced"][3]
            <= out["understock_costly"][3])


def test_markov_entropy_rate_matches_python(spark, sf_dir):
    import math
    from collections import Counter, defaultdict

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id",
                                  "event_type"])
    ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype(np.int64)
    trans = Counter()
    for _, g in ev.sort_values(["ts_us", "event_id"]).groupby("user_id"):
        ts = g["event_type"].to_list()
        for a, b in zip(ts, ts[1:]):
            trans[(a, b)] += 1
    r = defaultdict(int)
    for (a, _), c in trans.items():
        r[a] += c
    states = sorted(r)
    k = len(states)
    pi = {st: 1_000_000 // k for st in states}
    for _ in range(3):
        nxt = defaultdict(int)
        for (a, b), c in trans.items():
            nxt[b] += pi[a] * c // r[a]
        pi = nxt

    def L(z):
        return math.floor(math.log(z) * 1e6)

    out = {row["event_type"]: (row["pi_ppm"], row["h_state_e6"],
                               row["contribution_e6"])
           for row in _fn("markov_entropy_rate")(spark, sf_dir).collect()}
    for st in states:
        h = sum(c * (L(r[st]) - L(c))
                for (a, _), c in trans.items() if a == st) // r[st]
        assert out[st] == (pi[st], h, pi[st] * h // 1_000_000), st
