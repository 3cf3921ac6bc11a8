"""Round-7 query pins: pure-python replays of the trickiest round-7
queries (DuckDB hash parity is covered by the replica runs; these pin the
SEMANTICS against an independent reimplementation so a later refactor
cannot silently change both engines in the same wrong way)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY


def _fn(name):
    return REGISTRY[name].fn


def test_wilcoxon_signed_rank_matches_scipy_style_replay(spark, sf_dir):
    """W+ and W- (2x-scaled) equal a plain numpy replay with average ranks
    on tied |diff| and zero-diff exclusion."""
    out = _fn("wilcoxon_signed_rank")(spark, sf_dir).toPandas().iloc[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["day"] = (ev["ts"].astype("datetime64[ns]").astype("int64")
                 // (86400 * 10**9))
    ev["cents"] = np.floor(ev["value"].to_numpy() * 100).astype("int64")
    mid = (ev["day"].min() + ev["day"].max() + 1) // 2
    a = ev[ev["day"] < mid].groupby("user_id")["cents"].sum()
    b = ev[ev["day"] >= mid].groupby("user_id")["cents"].sum()
    users = sorted(set(a.index) | set(b.index))
    diffs = np.array([b.get(u, 0) - a.get(u, 0) for u in users])
    diffs = diffs[diffs != 0]
    ad = np.abs(diffs)
    order = np.argsort(ad, kind="stable")
    # 2x average ranks with ties
    rank_x2 = np.empty(len(ad), dtype="int64")
    sorted_ad = ad[order]
    i = 0
    while i < len(sorted_ad):
        j = i
        while j < len(sorted_ad) and sorted_ad[j] == sorted_ad[i]:
            j += 1
        # ranks i+1..j (1-based); average*2 = (i+1 + j)
        rank_x2[order[i:j]] = (i + 1) + j
        i = j
    w_plus = int(rank_x2[diffs > 0].sum())
    w_minus = int(rank_x2[diffs < 0].sum())
    assert int(out["n_pairs"]) == len(diffs)
    assert int(out["w_plus_x2"]) == w_plus
    assert int(out["w_minus_x2"]) == w_minus
    # invariant: W+ + W- == n(n+1) (2x the full rank sum)
    n = len(diffs)
    assert w_plus + w_minus == n * (n + 1)


def test_changepoint_single_split_matches_numpy_argmax(spark, sf_dir):
    """The O(n) closed-form gain argmax equals a brute-force two-segment
    scan over the daily series."""
    out = _fn("changepoint_single_split")(spark, sf_dir).toPandas().iloc[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["day"] = (o["o_orderdate"].astype("datetime64[ns]").astype("int64")
                // (86400 * 10**9))
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    daily = o.groupby("day")["cents"].sum().sort_index()
    c = daily.to_numpy(dtype="int64")
    days = daily.index.to_numpy()
    n = len(c)
    s = c.sum()
    best = None
    for k in range(1, n):
        sk = c[:k].sum()
        gain = (float(sk) * float(sk)) / k \
            + (float(s - sk) * float(s - sk)) / (n - k) \
            - (float(s) * float(s)) / n
        if best is None or gain > best[0] + 1e-9:
            best = (gain, days[k - 1], k)
    assert int(out["n_days"]) == n
    assert int(out["split_day"]) == int(best[1])
    assert int(out["left_days"]) == best[2]
    assert abs(int(out["gain_floor"]) - int(np.floor(best[0]))) <= 1


def test_knn_label_accuracy_matches_numpy_replay(spark, sf_dir):
    """Majority-vote 5-NN accuracy equals the numpy replay with identical
    fixed-point math and tie-breaks."""
    out = _fn("knn_label_accuracy")(spark, sf_dir).toPandas().iloc[0]
    t = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    ids = t["vec_id"].to_numpy()
    labels = t["label"].to_numpy()
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
    q = np.floor(x * (1 << 20)).astype("int64")
    qmask = ids < 50
    correct = 0
    for qi in np.where(qmask)[0]:
        d = ((q[~qmask] - q[qi]) ** 2).sum(axis=1)
        tid = ids[~qmask]
        order = np.lexsort((tid, d))[:5]
        votes = {}
        for lab in labels[~qmask][order]:
            votes[lab] = votes.get(lab, 0) + 1
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        correct += int(pred == labels[qi])
    nq = int(qmask.sum())
    assert int(out["n_queries"]) == nq
    assert int(out["n_correct"]) == correct
    assert int(out["acc_ppm"]) == correct * 1_000_000 // nq


def test_matryoshka_energy_monotone_and_exact_at_full_dim(spark, sf_dir):
    """Prefix energy is monotone in dims and exactly 1e6 ppm at 64."""
    out = _fn("matryoshka_truncation_error")(spark, sf_dir).toPandas()
    out = out.sort_values("dims").reset_index(drop=True)
    assert list(out["dims"]) == [16, 32, 64]
    avg = list(out["avg_energy_ppm"])
    assert avg[0] <= avg[1] <= avg[2]
    assert avg[2] == 1_000_000
    assert int(out.loc[2, "min_energy_ppm"]) == 1_000_000
    assert int(out.loc[2, "n_below_half"]) == 0


def test_bootstrap_ci_brackets_full_mean(spark, sf_dir):
    """The hash-bootstrap CI straddles the full-sample mean and is ordered."""
    out = _fn("bootstrap_ci_hash")(spark, sf_dir).toPandas().iloc[0]
    assert int(out["n_resamples"]) == 50
    lo, hi, m = (int(out["ci_lo_c"]), int(out["ci_hi_c"]),
                 int(out["full_mean_c"]))
    assert lo <= hi
    # half-sampling CI of the mean should contain the full mean comfortably
    assert lo <= m <= hi


def test_greedy_vs_packing_lower_bound(spark, sf_dir):
    """Staged-wave sanity for the registered packer's family: greedy bin
    count is within 2x of the fractional lower bound ceil(total/budget)
    per source (first-fit-style guarantee for items <= budget)."""
    from gan_deeplearning4j_spark.queries import REGISTRY

    out = REGISTRY["greedy_pack_bins"].fn(spark, sf_dir).toPandas()
    for _, r in out.iterrows():
        lower = -(-int(r["total_tokens"]) // 256)
        # oversized docs each take a bin; bound still holds loosely
        assert int(r["n_bins"]) <= max(2 * lower, int(r["n_docs"]))


def test_knee_point_matches_numpy_replay(spark, sf_dir):
    """The integer chord-cross argmax equals a numpy replay."""
    out = _fn("knee_point_power_users")(spark, sf_dir).toPandas().iloc[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    per = ev.groupby("user_id").size().reset_index(name="c")
    per = per.sort_values(["c", "user_id"],
                          ascending=[False, True]).reset_index(drop=True)
    sk = per["c"].cumsum().to_numpy(dtype="int64")
    k = np.arange(1, len(sk) + 1, dtype="int64")
    n, s, s1 = len(sk), int(sk[-1]), int(sk[0])
    cross = (n - 1) * (sk - s1) - (k - 1) * (s - s1)
    best = int(np.lexsort((k, -cross))[0])
    assert int(out["n_users"]) == n
    assert int(out["total_events"]) == s
    assert int(out["knee_rank"]) == int(k[best])
    assert int(out["chord_cross_max"]) == int(cross[best])


def test_staged_scale_plans(spark, sf_dir):
    """Plan pins for the scale-critical staged queries."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    # asof_tolerance_join: the candidate join is a bucketed EQUI-join —
    # never a cartesian/nested-loop interval join
    t = plan_tree(_fn("asof_tolerance_join")(spark, sf_dir))
    assert "CartesianProduct" not in t, t
    assert "BroadcastNestedLoopJoin" not in t, t
    assert "SortMergeJoin" in t or "ShuffledHashJoin" in t \
        or "BroadcastHashJoin" in t, t

    # oov_rate_by_lang: the top-K vocab joins in as a BROADCAST — the
    # token stream must not shuffle for the join
    t = plan_tree(_fn("oov_rate_by_lang")(spark, sf_dir))
    assert "BroadcastHashJoin" in t, t
    assert "SortMergeJoin" not in t, t

    # feature_hash_counts: scan-side hash, no join anywhere; exactly the
    # two exchanges a COUNT(DISTINCT) two-phase aggregate requires
    t = plan_tree(_fn("feature_hash_counts")(spark, sf_dir))
    assert "Join" not in t, t
    assert t.count("- Exchange") == 2, t

    # knn_label_accuracy: the bounded query set is the BROADCAST side of
    # the intentional nested-loop; the train scan happens once
    t = plan_tree(_fn("knn_label_accuracy")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in t, t
    assert t.count("Scan parquet") <= 2, t


def test_bpe_fixed_oracle_self_pair_parity_rule():
    """The oracle's merge-application expression implements the greedy
    left-to-right NON-OVERLAPPING rule in full generality, including the
    self-pair (l == r) run-parity case the real corpus never exercises.
    Pin it by replaying a crafted vocabulary where a self-pair wins twice
    ('dddd' -> [dd,dd] -> [dddd]) against the trainer's local engine."""
    import duckdb

    from gan_deeplearning4j_spark import queries_r7 as r7
    from gan_deeplearning4j_spark.operators.bpe import _local_train

    table = [("dddd", 3, list("dddd")), ("ab", 1, list("ab"))]
    want = _local_train(table, 3, start_rank=0)
    # sanity: the scenario really is self-pair-dominated
    assert [(m[1], m[2]) for m in want[:2]] == [("d", "d"), ("dd", "dd")]

    base = (
        "SELECT [struct_pack(f := CAST(3 AS BIGINT), "
        "s := ['d','d','d','d']), "
        "struct_pack(f := CAST(1 AS BIGINT), s := ['a','b'])] AS vocab"
    )
    sql = f"""
    WITH RECURSIVE
    base AS ({base}),
    step AS (
      SELECT 0 AS it,
             CAST([] AS STRUCT(rank BIGINT, l VARCHAR, r VARCHAR,
                               cnt BIGINT)[]) AS ms,
             vocab
      FROM base
      UNION ALL
      SELECT it + 1,
             list_transform([{r7._BPE_FIX_BEST}], b -> list_append(ms,
               struct_pack(rank := CAST(it AS BIGINT), l := b.l, r := b.r,
                           cnt := -b.nc)))[1],
             list_transform([{r7._BPE_FIX_BEST}], b ->
               {r7._BPE_FIX_NEWVOCAB})[1]
      FROM step
      WHERE it < 3
    )
    SELECT m.rank, m.l, m.r, m.cnt
    FROM (SELECT unnest(ms) AS m FROM step WHERE it = 3)
    ORDER BY m.rank
    """
    con = duckdb.connect()
    got = [tuple(r) for r in con.sql(sql).fetchall()]
    assert got == [tuple(m) for m in want], (got, want)


def test_r7_live_addition_plans(spark, sf_dir):
    """Physical-plan pins for the round-7 live additions: the docstring
    scale claims must be true in the plan, not just prose."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    # maxsim: bounded query side broadcasts into a nested-loop; the
    # corpus scan happens once and the only exchange is the per-query
    # top-k window
    t = plan_tree(_fn("maxsim_fixed_topk")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in t, t
    assert "SortMergeJoin" not in t, t

    # bm25: term list and doc-frequency sides broadcast; the token
    # stream never sort-merge-joins
    t = plan_tree(_fn("bm25_int_topk")(spark, sf_dir))
    assert "BroadcastHashJoin" in t, t
    assert "SortMergeJoin" not in t, t
    # top-15 is TakeOrdered (per-partition heaps), not a global sort
    assert "TakeOrderedAndProject" in t, t

    # curriculum: the literal rank bound must keep the per-bucket
    # window a group-limit (top-20 heap), not a full per-bucket sort
    t = plan_tree(_fn("curriculum_interleave")(spark, sf_dir))
    assert "WindowGroupLimit" in t, t

    # cms join cardinality: both grids collapse before joining — the
    # grid join must broadcast, never shuffle the fact tables into a
    # sort-merge join
    t = plan_tree(_fn("cms_join_cardinality")(spark, sf_dir))
    assert "BroadcastHashJoin" in t, t

    # rrf: both ranking lists are TakeOrdered before ranks are assigned
    t = plan_tree(_fn("rrf_fusion_topk")(spark, sf_dir))
    assert "TakeOrderedAndProject" in t, t

    # weighted sampling: the literal rank<=5 bound must plan the
    # per-segment selection as a group-limit heap, not a full sort
    t = plan_tree(_fn("weighted_sample_es")(spark, sf_dir))
    assert "WindowGroupLimit" in t, t

    # inverted index: posting prefixes are a group-limit window (8-row
    # heaps) and only broadcast-selected terms reach it; the top-20 term
    # pick itself is TakeOrdered
    t = plan_tree(_fn("inverted_index_postings")(spark, sf_dir))
    assert "WindowGroupLimit" in t, t
    assert "TakeOrderedAndProject" in t, t

    # dsir: the 64-row log-ratio table broadcasts into the token stream —
    # the fact-sized side must never sort-merge-join
    t = plan_tree(_fn("dsir_importance_weights")(spark, sf_dir))
    assert "BroadcastHashJoin" in t, t
    assert "SortMergeJoin" not in t, t

    # entropy: no join, no window — two hash aggregates only
    t = plan_tree(_fn("event_type_entropy")(spark, sf_dir))
    assert "SortMergeJoin" not in t and "Window" not in t, t


def test_r7_second_wave_plans(spark, sf_dir):
    """Physical-plan pins for the six late round-7 additions."""
    from gan_deeplearning4j_spark.plans.explain import plan_tree

    # adamic-adar: the two-hop expansion is a keyed join on the shared
    # endpoint (SMJ is the correct strategy for edge-list x edge-list at
    # scale), never a cartesian; top-100 is a TakeOrdered heap
    t = plan_tree(_fn("adamic_adar_linkpred")(spark, sf_dir))
    assert "CartesianProduct" not in t, t
    assert "TakeOrderedAndProject" in t, t

    # bradley-terry: the MM rounds are checkpointed (the final plan sees
    # only the last strength join); no cartesian anywhere, top-50 is a
    # TakeOrdered heap
    t = plan_tree(_fn("bradley_terry_strength")(spark, sf_dir))
    assert "CartesianProduct" not in t, t
    assert "TakeOrderedAndProject" in t, t

    # the three scan-shaped audits: regex/arithmetic per row, ONE
    # map-side-combinable hash aggregate, no join, no window
    for name in ("flesch_reading_ease", "ece_calibration_bins",
                 "unicode_script_profile"):
        t = plan_tree(_fn(name)(spark, sf_dir))
        assert "HashAggregate" in t, (name, t)
        assert "Join" not in t and "Window" not in t, (name, t)

    # jsd: after the per-source histogram, everything is cells-sized —
    # every join broadcasts, nothing sort-merge-joins
    t = plan_tree(_fn("js_divergence_sources")(spark, sf_dir))
    assert "SortMergeJoin" not in t, t
    assert "BroadcastHashJoin" in t, t


def test_bradley_terry_matches_python_replay(spark, sf_dir):
    """Replays the exact int64 MM recurrence in pure python (trunc
    division, virtual win, clamp) and compares the full top-50."""
    import collections

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_linenumber",
                                  "l_suppkey", "l_extendedprice"])
    wins = collections.Counter()
    npairs = collections.Counter()
    for _, g in li.groupby("l_orderkey"):
        rows = list(g.sort_values("l_linenumber").itertuples(index=False))
        for x in range(len(rows)):
            for y in range(x + 1, len(rows)):
                a, b = rows[x], rows[y]
                # the query compares strictly increasing linenumbers only
                # (this synthetic data has duplicate linenumbers per order)
                if (a.l_linenumber == b.l_linenumber
                        or a.l_suppkey == b.l_suppkey
                        or a.l_extendedprice == b.l_extendedprice):
                    continue
                w, l = ((a, b) if a.l_extendedprice > b.l_extendedprice
                        else (b, a))
                wins[w.l_suppkey] += 1
                npairs[(min(a.l_suppkey, b.l_suppkey),
                        max(a.l_suppkey, b.l_suppkey))] += 1
    players = sorted({s for p in npairs for s in p})
    W = {s: 1 + wins.get(s, 0) for s in players}
    ncomp = collections.Counter()
    for (i, j), n in npairs.items():
        ncomp[i] += n
        ncomp[j] += n
    p = {s: 1000000 for s in players}
    for _ in range(3):
        den = collections.Counter()
        for (i, j), n in npairs.items():
            t = n * 10**12 // (p[i] + p[j])  # positive: // == trunc div
            den[i] += t
            den[j] += t
        p = {s: max(W[s] * 10**12 // den[s], 1) for s in players}
    expect = sorted(
        ((s, wins.get(s, 0), ncomp[s], p[s]) for s in players),
        key=lambda r: (-r[3], r[0]),
    )[:50]
    got = [tuple(r) for r in _fn("bradley_terry_strength")(
        spark, sf_dir).collect()]
    assert got == expect
