"""Round-8 query pins: pure-python replays (hash parity is covered
by the replica runs; these pin the SEMANTICS against an independent
reimplementation)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY


def _fn(name):
    return REGISTRY[name].fn


def test_viterbi_matches_python_dp(spark, sf_dir):
    """The 4-step max-product DP equals a dict-based python replay with
    identical ppm truncation and (score desc, state asc) tie-breaks."""
    out = _fn("viterbi_event_paths")(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    trans: dict[tuple[str, str], int] = {}
    for _, g in ev.groupby("user_id"):
        ts = list(g["event_type"])
        for a, b in zip(ts, ts[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    outdeg: dict[str, int] = {}
    for (a, _b), c in trans.items():
        outdeg[a] = outdeg.get(a, 0) + c
    p = {(a, b): c * 1_000_000 // outdeg[a] for (a, b), c in trans.items()}
    counts = ev["event_type"].value_counts()
    start = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    v = {start: 1_000_000}
    want = []
    for k in range(1, 5):
        nv: dict[str, int] = {}
        for (a, b), pp in p.items():
            if a in v:
                s = v[a] * pp // 1_000_000
                if s > nv.get(b, -1):
                    nv[b] = s
        v = nv
        best = sorted(v.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want.append((k, best[0], best[1]))
    got = [(int(r["step"]), r["state"], int(r["score_ppm"]))
           for _, r in out.iterrows()]
    assert got == want


def test_r8_second_wave_plans(spark, sf_dir):
    """Physical-plan pins for the late round-7 staged additions."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    # hits: every half-step broadcasts the score vector; the only BNLJ
    # is the 1-row max-normalizer; top-20s are TakeOrdered heaps
    t = plan_tree(_fn("hits_fixed_scores")(spark, sf_dir))
    assert "BroadcastHashJoin" in t, t
    assert "SortMergeJoin" not in t and "CartesianProduct" not in t, t
    assert "TakeOrderedAndProject" in t, t

    # ndcg: bounded query panel broadcasts against the corpus; per-query
    # top-10 is a WindowGroupLimit heap; the 8-row dcg/nrel join
    # broadcasts too — nothing sort-merge-joins
    t = plan_tree(_fn("ndcg_ranking_eval")(spark, sf_dir))
    assert "WindowGroupLimit" in t, t
    assert "SortMergeJoin" not in t, t

    # mutual-NN: the checkpointed NN table re-joins itself broadcast
    t = plan_tree(_fn("mutual_nn_pairs")(spark, sf_dir))
    assert "BroadcastHashJoin" in t, t
    assert "SortMergeJoin" not in t and "CartesianProduct" not in t, t

    # cuped: two map-side-combinable aggregates, no join, no window
    t = plan_tree(_fn("cuped_variance_reduction")(spark, sf_dir))
    assert "HashAggregate" in t, t
    assert "Join" not in t and "Window" not in t, t

    # roc auc: windows run over the distinct-score relation only —
    # no join anywhere
    t = plan_tree(_fn("roc_auc_by_source")(spark, sf_dir))
    assert "Join" not in t, t

    # binaryFile scan: decode is one MapInPandas stage feeding a
    # 16-group aggregate — no join, no window
    t = plan_tree(_fn("binaryfile_wav_scan")(spark, sf_dir))
    assert "MapInPandas" in t, t
    assert "Join" not in t and "Window" not in t, t


def test_ndcg_matches_numpy_replay(spark, sf_dir):
    """Replays retrieval + NDCG in numpy from the parquet directly."""
    import math

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    v = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 1024
    ).astype(np.int64)
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    order = np.argsort(ids)
    v, ids, labels = v[order], ids[order], labels[order]
    W = [math.floor(1e9 / math.log2(i + 1)) for i in range(1, 11)]
    PS = np.cumsum(W)
    expect = []
    for qpos in np.nonzero(ids < 8)[0]:
        dots = v @ v[qpos]
        cand = [(int(-dots[p]), int(ids[p]), int(labels[p]))
                for p in range(len(ids)) if p != qpos]
        cand.sort()
        top = cand[:10]
        qlabel = int(labels[qpos])
        dcg = sum(W[r] for r, (_, _, lb) in enumerate(top) if lb == qlabel)
        n_rel = int((labels == qlabel).sum()) - 1
        idcg = int(PS[min(n_rel, 10) - 1])
        expect.append((int(ids[qpos]), qlabel, n_rel, dcg, idcg,
                       dcg * 10**9 // idcg))
    got = [tuple(r) for r in _fn("ndcg_ranking_eval")(
        spark, sf_dir).collect()]
    assert got == sorted(expect)


def test_isotonic_fit_is_monotone_and_matches_pava(spark, sf_dir):
    """The minimax closed form must produce a weighted PAVA fit:
    non-decreasing, and within 1 quantization step of the classic
    sequential pool-adjacent-violators sweep run in exact fractions."""
    from fractions import Fraction

    out = _fn("isotonic_calibration_bins")(spark, sf_dir).toPandas()
    iso = out["iso_e9"].tolist()
    assert iso == sorted(iso), iso
    # classic stack PAVA on exact rationals
    blocks = []  # (sum_pos, sum_n)
    for _, r in out.sort_values("bin").iterrows():
        blocks.append((int(r["pos"]), int(r["n"])))
        while len(blocks) > 1 and (
            Fraction(blocks[-2][0], blocks[-2][1])
            >= Fraction(blocks[-1][0], blocks[-1][1])
        ):
            p2, n2 = blocks.pop()
            p1, n1 = blocks.pop()
            blocks.append((p1 + p2, n1 + n2))
    # expand blocks back to per-bin values
    expanded = []
    i = 0
    rows = out.sort_values("bin").reset_index(drop=True)
    for p, n in blocks:
        acc = 0
        while acc < n:
            acc += int(rows.loc[i, "n"])
            expanded.append(Fraction(p, n))
            i += 1
    assert len(expanded) == len(rows)
    for got_e9, exact in zip(iso, expanded):
        ref = (exact.numerator * 10**9) // exact.denominator
        assert abs(got_e9 - ref) <= 1, (got_e9, ref)


def test_pass_at_k_matches_fractions_replay(spark, sf_dir):
    """Exact-fraction replay of the unbiased estimator per user."""
    from fractions import Fraction
    from math import comb

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_type"])
    g = ev.groupby("user_id")["event_type"]
    n = g.size()
    c = g.apply(lambda s: int((s == "purchase").sum()))
    keep = n[n >= 10].index
    sums = {1: 0, 5: 0, 10: 0}
    for u in keep:
        nn, cc = int(n[u]), int(c[u])
        for k in sums:
            p = 1 - Fraction(comb(nn - cc, k), comb(nn, k))
            sums[k] += (p.numerator * 10**9) // p.denominator
    row = _fn("pass_at_k_estimator")(spark, sf_dir).collect()[0]
    assert row["n_users"] == len(keep)
    for k, col in [(1, "pass_at_1_e9"), (5, "pass_at_5_e9"),
                   (10, "pass_at_10_e9")]:
        # the engine floors each user at e9 from the double product;
        # exact-fraction floor can differ by 1 ulp per user
        assert abs(row[col] - sums[k] // len(keep)) <= 1, (k, row[col])
    assert row["pass_at_1_e9"] <= row["pass_at_5_e9"] <= row[
        "pass_at_10_e9"]


def test_conformal_coverage_near_nominal_and_k_exact(spark, sf_dir):
    """The split-conformal guarantee is >= 90% marginal coverage in
    expectation; per-language finite-sample coverage should sit near
    nominal. Also replays the ceil((n+1)*0.9) rank exactly."""
    out = _fn("conformal_quantile_coverage")(spark, sf_dir).toPandas()
    assert len(out) >= 2
    for _, r in out.iterrows():
        n_cal = int(r["n_cal"])
        k_ref = min(-((9 * (n_cal + 1)) // -10), n_cal)  # ceil div
        assert int(r["k"]) == k_ref, (r["lang"], r["k"], k_ref)
        if int(r["n_test"]) >= 100:
            assert 820000 <= int(r["coverage_e6"]) <= 1000000, (
                r["lang"], r["coverage_e6"])


def test_ess_is_bounded_and_monotone_in_temperature(spark, sf_dir):
    """Kish ESS <= n always; squaring the weights can only concentrate
    the sample (Lyapunov moment log-convexity), so ESS_t2 <= ESS_t1 up
    to integer-floor slack."""
    out = _fn("ess_weighted_sampling")(spark, sf_dir).toPandas()
    assert len(out) >= 2
    for _, r in out.iterrows():
        assert 1 <= int(r["ess_t1"]) <= int(r["n"])
        assert int(r["ess_t2"]) <= int(r["ess_t1"]) + 1
        assert int(r["ess_t1_ratio_e6"]) <= 1000000


def test_allen_census_covers_and_balances(spark, sf_dir):
    """Pair count must equal C(|types|,2) summed over users, and every
    emitted relation must be one of Allen's 13."""
    out = _fn("allen_interval_census")(spark, sf_dir).toPandas()
    allen = {"before", "meets", "overlaps", "starts", "during",
             "finishes", "equals", "after", "met_by", "overlapped_by",
             "started_by", "contains", "finished_by"}
    assert set(out["relation"]) <= allen
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_type"])
    k = ev.drop_duplicates().groupby("user_id").size()
    expect_pairs = int((k * (k - 1) // 2).sum())
    assert int(out["n_pairs"].sum()) == expect_pairs


def test_lsh_band_planner_prefers_balanced_split(spark, sf_dir):
    """At the 0.5 threshold the S-curve error is minimized by the
    balanced 4x4 split, and the two degenerate extremes (AND-only /
    OR-only) are symmetric mirrors of each other."""
    out = _fn("lsh_band_planner")(spark, sf_dir).toPandas()
    best = out.iloc[0]
    assert (int(best["bands"]), int(best["rows_per_band"])) == (4, 4)
    by_b = out.set_index("bands")
    assert (int(by_b.loc[1, "fp_area_e9"])
            == int(by_b.loc[16, "fn_area_e9"]))
    assert (int(by_b.loc[1, "total_error_e9"])
            == int(by_b.loc[16, "total_error_e9"]))


def test_l_diversity_census_is_consistent(spark, sf_dir):
    """Rows must partition the event table, and group entropy can never
    exceed ln(l) (uniform over l sensitive values)."""
    import math

    out = _fn("l_diversity_audit")(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    assert int(out["rows_covered"].sum()) == len(ev)
    for _, r in out.iterrows():
        cap = math.floor(math.log(int(r["l"])) * 1e6) if r["l"] > 1 else 0
        # each of the l terms floors, so allow l ulps of slack
        assert int(r["min_entropy_e6"]) <= cap + int(r["l"])


def test_stl_variance_split_is_coherent(spark, sf_dir):
    """Residual sum of squares cannot exceed total detrended SS around
    ANY per-dow constant... except the mean minimizes it; share in
    [0, 1e6]; trend removal leaves a near-zero overall mean."""
    out = _fn("stl_lite_decomposition")(spark, sf_dir).toPandas()
    assert len(out) == 7
    for _, r in out.iterrows():
        assert 0 <= int(r["ss_resid"]) <= int(r["ss_detr"]) + 7
        assert 0 <= int(r["seasonal_share_ppm"]) <= 1000000
    # seasonal components are means of detrended cents: their n-weighted
    # sum equals the total detrended sum up to one floor per dow
    tot = (out["seasonal_cents"] * out["n_days"]).sum()
    assert abs(tot) <= out["n_days"].sum() * 10000 + 7 * abs(
        out["seasonal_cents"]).max()


def test_map_at_10_matches_numpy_replay(spark, sf_dir):
    """Exact integer replay of per-query average precision@10."""
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    v = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 1024
    ).astype(np.int64)
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    order = np.argsort(ids)
    v, ids, labels = v[order], ids[order], labels[order]
    expect = []
    for qpos in np.nonzero(ids < 8)[0]:
        dots = v @ v[qpos]
        cand = [(int(-dots[p]), int(ids[p]), int(labels[p]))
                for p in range(len(ids)) if p != qpos]
        cand.sort()
        qlabel = int(labels[qpos])
        hits = 0
        sum_prec = 0
        for r, (_, _, lb) in enumerate(cand[:10], start=1):
            if lb == qlabel:
                hits += 1
                sum_prec += hits * 10**9 // r
        ap = sum_prec // hits if hits else 0
        expect.append((int(ids[qpos]), hits, ap))
    got = [tuple(r) for r in _fn("map_at_10_eval")(spark, sf_dir).collect()]
    assert got == sorted(expect)


def test_fano_matches_pandas_replay(spark, sf_dir):
    """Exact moment replay of the hourly Fano factor."""
    import math

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "ts"])
    ev["hour_no"] = (
        ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    )
    expect = []
    for et, g in ev.groupby("event_type"):
        c = g.groupby("hour_no").size().astype("int64")
        n, s1, s2 = len(c), int(c.sum()), int((c * c).sum())
        fano = math.floor(
            (float(n) * s2 - float(s1) * s1) / (float(n) * s1) * 1e6)
        expect.append((et, n, s1, s2, fano))
    got = [tuple(r) for r in _fn("fano_burstiness_by_type")(
        spark, sf_dir).collect()]
    assert got == sorted(expect)


def test_char_entropy_bounded_by_alphabet(spark, sf_dir):
    """Order-0 entropy can't exceed log2(alphabet size); bits and nats
    stay in ratio ln 2 up to quantization."""
    import math

    out = _fn("char_entropy_by_lang")(spark, sf_dir).toPandas()
    assert len(out) >= 2
    for _, r in out.iterrows():
        cap_bits = math.log2(int(r["n_symbols"])) * 1e6
        assert 0 < int(r["entropy_bits_e6"]) <= cap_bits + int(
            r["n_symbols"])
        ratio = int(r["entropy_nats_e6"]) / int(r["entropy_bits_e6"])
        assert abs(ratio - math.log(2)) < 1e-4


def test_brandes_matches_python_replay(spark, sf_dir):
    """Independent pure-python Brandes replay (BFS sigma + quantized
    backward accumulation) over the same co-purchase graph."""
    import collections
    import math

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    li = li.drop_duplicates()
    pairs = collections.Counter()
    for _, g in li.groupby("l_orderkey"):
        ps = sorted(g["l_partkey"].unique())
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pairs[(ps[i], ps[j])] += 1
    adj = collections.defaultdict(set)
    for (a, b), n in pairs.items():
        if n >= 2:
            adj[a].add(b)
            adj[b].add(a)
    if not adj:
        return
    hub = max(adj, key=lambda n: (len(adj[n]), -n))
    dist = {hub: 0}
    sigma = {hub: 1}
    frontier = [hub]
    for h in range(1, 5):
        nxt = collections.Counter()
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    nxt[v] += sigma[u]
        for v, s in nxt.items():
            dist[v] = h
            sigma[v] = s
        frontier = list(nxt)
    delta = {v: 0 for v in dist}
    for h in range(3, -1, -1):
        for v in [n for n, d in dist.items() if d == h]:
            tot = 0
            for w in adj[v]:
                if dist.get(w) == h + 1:
                    tot += math.floor(
                        float(sigma[v]) * (10**9 + delta[w]) / sigma[w])
            delta[v] = tot
    expect = sorted(
        ((n, dist[n], sigma[n], delta[n]) for n in dist),
        key=lambda r: (-r[3], r[0]),
    )[:20]
    got = [tuple(r) for r in _fn("brandes_dependency_hub")(
        spark, sf_dir).collect()]
    assert got == expect


def test_fisher_is_geometric_mean_between_l_and_p(spark, sf_dir):
    """Fisher must sit between Laspeyres and Paasche (it is their
    geometric mean) up to ppm quantization."""
    out = _fn("price_index_fisher")(spark, sf_dir).toPandas()
    assert len(out) >= 1
    for _, r in out.iterrows():
        lo = min(int(r["laspeyres_ppm"]), int(r["paasche_ppm"]))
        hi = max(int(r["laspeyres_ppm"]), int(r["paasche_ppm"]))
        assert lo - 1 <= int(r["fisher_ppm"]) <= hi + 1, tuple(r)
        assert int(r["n_common_parts"]) > 0


def test_r8_third_wave_plans(spark, sf_dir):
    """Physical-plan pins for the last round-7 staged additions."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    # scan-shaped: one (or two chained) hash aggregates, no join at all
    for name in ("pass_at_k_estimator", "ess_weighted_sampling",
                 "l_diversity_audit", "fano_burstiness_by_type",
                 "char_entropy_by_lang"):
        t = plan_tree(_fn(name)(spark, sf_dir))
        assert "HashAggregate" in t, (name, t)
        assert "Join" not in t, (name, t)

    # join-bearing ones: never a cartesian product; the growing-side
    # joins are unhinted so AQE may broadcast at test SF and shuffle at
    # fact scale — pin only the invariant that holds at every scale
    for name in ("isotonic_calibration_bins", "conformal_quantile_coverage",
                 "allen_interval_census", "stl_lite_decomposition",
                 "image_ahash_pairs", "price_index_fisher",
                 "good_turing_smoothing", "brandes_dependency_hub"):
        t = plan_tree(_fn(name)(spark, sf_dir))
        assert "CartesianProduct" not in t, (name, t)

    # retrieval eval: per-query top-10 must stay a WindowGroupLimit heap
    t = plan_tree(_fn("map_at_10_eval")(spark, sf_dir))
    assert "WindowGroupLimit" in t, t

    # brandes: top-20 is a TakeOrdered heap, never a global sort
    t = plan_tree(_fn("brandes_dependency_hub")(spark, sf_dir))
    assert "TakeOrderedAndProject" in t, t


def test_hits_matches_python_replay(spark, sf_dir):
    """Exact integer replay of the 2-round max-normalized HITS
    recurrence on the customer->supplier purchase graph."""
    import collections

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_suppkey"])
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    w = collections.Counter(zip(m["o_custkey"], m["l_suppkey"]))
    h = {c: 10**6 for c in {k[0] for k in w}}
    a = {}
    for _ in range(2):
        ar = collections.Counter()
        for (c, s), wt in w.items():
            ar[s] += wt * h[c]
        mx = max(ar.values())
        a = {s: r * 10**6 // mx for s, r in ar.items()}
        hr = collections.Counter()
        for (c, s), wt in w.items():
            hr[c] += wt * a[s]
        mx = max(hr.values())
        h = {c: r * 10**6 // mx for c, r in hr.items()}
    expect = sorted(
        [("authority", int(s), v) for s, v in a.items()],
        key=lambda r: (-r[2], r[1]))[:20] + sorted(
        [("hub", int(c), v) for c, v in h.items()],
        key=lambda r: (-r[2], r[1]))[:20]
    expect.sort(key=lambda r: (r[0], -r[2], r[1]))
    got = [tuple(r) for r in _fn("hits_fixed_scores")(
        spark, sf_dir).collect()]
    assert got == expect


def test_ransac_best_beats_random_and_is_unique(spark, sf_dir):
    """Exactly one best trial; the winner's inlier count is the max;
    every trial produced a slope (dx != 0 by the distinct-index guard);
    the 16-model x day-series scoring join never degrades to a
    CartesianProduct."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    df = _fn("ransac_trend_fit")(spark, sf_dir)
    assert "CartesianProduct" not in plan_tree(df)
    out = df.toPandas()
    assert 1 <= len(out) <= 16
    assert int(out["best"].sum()) == 1
    assert out["slope_e6"].notna().all()
    winner = out[out["best"] == 1].iloc[0]
    assert int(winner["inliers"]) == int(out["inliers"].max())
