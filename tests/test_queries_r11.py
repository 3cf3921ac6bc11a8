"""Round-11 query pins: pure-python replays (hash parity is covered
by the replica runs; these pin the SEMANTICS against an independent
reimplementation), plus the operator-level plan/equivalence tests for the
skew-ladder additions (salted two-phase agg, halo-chunked RANGE frame,
2-bit multi-probe LSH)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from gan_deeplearning4j_spark.queries import REGISTRY


def _fn(name):
    return REGISTRY[name].fn


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _grams3(text):
    toks = re.split(r"\s+", text.strip().lower())
    return {
        " ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))
    }


# ---------------------------------------------------------------------------
# multi-probe LSH
# ---------------------------------------------------------------------------

def _lsh_multiprobe_python(sf_dir, bits=8, probes=16, k=5):
    from gan_deeplearning4j_spark.operators.similarity import plane_values

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "embedding"])
    planes = plane_values(64, bits)

    def dots(v):
        out = []
        for p in planes:
            acc = 0.0
            for x, w in zip(v, p):   # left fold == Spark aggregate
                acc = acc + x * w
            out.append(acc)
        return out

    vecs = {int(r.vec_id): [float(x) for x in r.embedding]
            for r in emb.itertuples(index=False)}
    sig = {}
    dd = {}
    for i, v in vecs.items():
        d = dots(v)
        s = 0
        for j in range(bits):
            s = s * 2 + (1 if d[j] >= 0 else 0)
        sig[i], dd[i] = s, d
    buckets = defaultdict(list)
    for i, s in sig.items():
        buckets[s].append(i)
    result = {}
    for q in range(4):
        d = dd[q]
        probe = [sig[q]]
        one = sorted(
            (abs(d[j]), sig[q] ^ (1 << (bits - 1 - j))) for j in range(bits)
        )
        probe += [s for _, s in one[:min(probes, bits)]]
        if probes > bits:
            two = sorted(
                (abs(d[i]) + abs(d[j]),
                 sig[q] ^ (1 << (bits - 1 - i)) ^ (1 << (bits - 1 - j)))
                for i in range(bits) for j in range(i + 1, bits)
            )
            probe += [s for _, s in two[:probes - bits]]
        cands = {c for s in probe for c in buckets.get(s, [])}
        qv = np.array(vecs[q])
        scored = []
        for c in cands:
            cv = np.array(vecs[c])
            cs = float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv)))
            scored.append((-round(cs, 6), c))
        scored.sort()
        result[q] = [(c, -ncs) for ncs, c in scored[:k]]
    return result


def test_lsh_multiprobe_topk_matches_python(spark, sf_dir):
    want = _lsh_multiprobe_python(sf_dir)
    got = defaultdict(list)
    for r in (_fn("lsh_multiprobe_topk")(spark, sf_dir)
              .orderBy("query_id", "vec_id").collect()):
        got[r["query_id"]].append((r["vec_id"], r["cos_sim"]))
    assert set(got) == set(want)
    for q in want:
        assert sorted(got[q]) == sorted(want[q]), q


def test_lsh_multiprobe_recall_monotone(spark, sf_dir):
    """The recall knob must be monotone: candidates probed at depth 16
    superset depth 8, so top-k cosine at 16 probes is >= at 8 probes,
    query by query (comparing the k-th best similarity)."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def kth(probes):
        rows = lsh_bucketed_topk(
            emb, q, "embedding", "vec_id", "query_id",
            dim=64, k=5, bits=8, probes=probes,
        ).collect()
        per = defaultdict(list)
        for r in rows:
            per[r["query_id"]].append(r["cos_sim"])
        return {qq: sorted(v)[0] for qq, v in per.items()}

    k8, k16 = kth(8), kth(16)
    for qq in k8:
        assert k16[qq] >= k8[qq] - 1e-12, qq


def test_lsh_multiprobe_rejects_overdeep_probing(spark):
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(7)] * 8).alias("embedding"),
    )
    with pytest.raises(ValueError, match="perturbation space"):
        lsh_bucketed_topk(df, df.withColumnRenamed("vec_id", "query_id"),
                          "embedding", "vec_id", "query_id",
                          dim=8, k=2, bits=4, probes=11)


# ---------------------------------------------------------------------------
# salted two-phase agg + halo RANGE frame
# ---------------------------------------------------------------------------

def test_salted_agg_user_value_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "value"])
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    g = pd.DataFrame({"u": ev["user_id"], "c": cents}).groupby("u")
    want = {int(u): (int(gg["c"].sum()), len(gg)) for u, gg in g}
    out = {r["user_id"]: (r["cents"], r["n"])
           for r in _fn("salted_agg_user_value")(spark, sf_dir).collect()}
    assert out == want


def test_salted_agg_plan_has_two_phase_pairs(spark, sf_dir):
    """The salted demo must actually run TWO aggregations (pre-agg under
    (key, salt), re-agg by key): 4 HashAggregate nodes (partial+final x2)
    and an exchange on the salted key."""
    df = _fn("salted_agg_user_value")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 4, plan
    assert "__salt" in plan, plan


def test_range_frame_halo_equals_plain_window(spark, sf_dir):
    """Exact equivalence: halo-chunked trailing-frame sums == the plain
    single-partition-per-key window, row for row (integer cents)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.operators.relational import (
        range_frame_sum_halo,
    )

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts_sec", F.unix_micros(
            F.col("ts").cast("timestamp")) / F.lit(1_000_000))
        .withColumn("ts_sec", F.col("ts_sec").cast("long"))
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    halo = range_frame_sum_halo(
        ev, "user_id", "ts_sec", cents, frame=3600, chunk=3600,
        out_col="c1h",
    ).select("event_id", "c1h")
    w = (Window.partitionBy("user_id").orderBy("ts_sec")
         .rangeBetween(-3599, Window.currentRow))
    plain = ev.select(
        "event_id", F.sum(cents).over(w).alias("c1h_plain")
    )
    joined = halo.join(plain, "event_id")
    n_total = joined.count()
    n_eq = joined.filter("c1h = c1h_plain").count()
    assert n_total == ev.count() and n_eq == n_total


def test_range_frame_halo_rejects_small_chunk(spark):
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.operators.relational import (
        range_frame_sum_halo,
    )

    df = spark.range(10).select(
        F.lit(1).alias("k"), F.col("id").alias("t"), F.lit(1).alias("v")
    )
    with pytest.raises(ValueError, match="chunk"):
        range_frame_sum_halo(df, "k", "t", F.col("v"), frame=100, chunk=50)


def test_range_frame_halo_1h_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "value"])
    ts = (ev["ts"].astype("datetime64[us]").astype(np.int64)
          // 1_000_000).to_numpy()
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    want = {}
    df = pd.DataFrame({"u": ev["user_id"], "t": ts, "c": cents})
    for u, g in df.groupby("u"):
        g = g.sort_values("t").reset_index(drop=True)
        peak, lo = None, 0
        tv, cv = g["t"].to_numpy(), g["c"].to_numpy()
        run = 0
        for hi in range(len(g)):
            run += cv[hi]
            while tv[lo] < tv[hi] - 3599:
                run -= cv[lo]
                lo += 1
            # RANGE frame: all same-ts peers aggregate identically — the
            # two-pointer must include every row with t == tv[hi]
            j = hi
            extra = 0
            while j + 1 < len(g) and tv[j + 1] == tv[hi]:
                j += 1
                extra += cv[j]
            peak = max(peak or 0, run + extra)
        want[int(u)] = (int(peak), len(g))
    out = {r["user_id"]: (r["peak_1h_cents"], r["n_events"])
           for r in _fn("range_frame_halo_1h")(spark, sf_dir).collect()}
    assert out == want


# ---------------------------------------------------------------------------
# incremental minhash resume
# ---------------------------------------------------------------------------

def test_minhash_incremental_resume_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    grams = {int(r.doc_id): _grams3(r.text)
             for r in docs.itertuples(index=False)}
    want = {}
    for a, ga in grams.items():
        if a % 5 != 0:
            continue
        hits = []
        for b, gb in grams.items():
            if b == a:
                continue
            inter = len(ga & gb)
            if not inter:
                continue
            j = inter / len(ga | gb)
            if j >= 0.7:
                hits.append((j, b))
        if hits:
            hits.sort(key=lambda t: (-t[0], t[1]))
            bj, bb = hits[0]
            want[a] = (len(hits), bb, math.floor(bj * 1e6))
    out = {r["doc_id"]: (r["n_dups"], r["best_match_id"], r["best_j_e6"])
           for r in _fn("minhash_incremental_resume")(spark,
                                                      sf_dir).collect()}
    assert out == want
    assert out, "vacuous: no cross-split dup families at this SF"


# ---------------------------------------------------------------------------
# novelty, lateness, cdc, advisors
# ---------------------------------------------------------------------------

def test_ngram_novelty_by_batch_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    per_batch = defaultdict(set)
    for r in docs.itertuples(index=False):
        per_batch[int(r.doc_id) % 10] |= _grams3(r.text)
    first = {}
    for b in sorted(per_batch):
        for g in per_batch[b]:
            first.setdefault(g, b)
    want = {}
    for b, gs in per_batch.items():
        new = sum(1 for g in gs if first[g] == b)
        want[b] = (len(gs), new, math.floor(new * 1e6 / len(gs)))
    out = {r["batch"]: (r["n_grams"], r["n_new"], r["novelty_ppm"])
           for r in _fn("ngram_novelty_by_batch")(spark, sf_dir).collect()}
    assert out == want


def test_watermark_lateness_audit_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "ts"])
    ev = ev.sort_values("event_id")
    us = ev["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
    late = np.maximum.accumulate(us) - us
    bins = [(0, "a_on_time"), (60_000_000, "b_1min"),
            (600_000_000, "c_10min"), (1_800_000_000, "d_30min")]
    want = defaultdict(int)
    for v in late:
        for lim, name in bins:
            if v <= lim:
                want[name] += 1
                break
        else:
            want["e_dropped_at_30min"] += 1
    out = {r["bucket"]: r["n"]
           for r in _fn("watermark_lateness_audit")(spark,
                                                    sf_dir).collect()}
    assert out == dict(want)


def test_cdc_net_effect_compact_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_totalprice"])
    k = o["o_orderkey"].to_numpy()
    cents = np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).astype(
        np.int64)
    want = defaultdict(lambda: [0, 0, 0])
    for kk, cc in zip(k, cents):
        shard = int(kk) % 10
        if kk % 7 == 0:
            want[shard][1] += 1
        else:
            fc = int(cc) if kk % 3 == 0 else int(cc) * 9 // 10
            want[shard][0] += 1
            want[shard][2] += fc
    out = {r["shard"]: [r["n_live"], r["n_tombstones"],
                        r["sum_final_cents"]]
           for r in _fn("cdc_net_effect_compact")(spark, sf_dir).collect()}
    assert out == {s: v for s, v in want.items()}


def test_partition_size_advisor_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    dc = pd.read_parquet(f"{sf_dir}/documents.parquet")
    est = {
        "lineitem": int((8 * 4 + 4 + 8 * 4 + 8) * len(li)
                        + li["l_returnflag"].str.len().sum()
                        + li["l_linestatus"].str.len().sum()),
        "orders": int((8 * 2 + 8 + 8) * len(o)
                      + o["o_orderstatus"].str.len().sum()
                      + o["o_orderpriority"].str.len().sum()),
        "events": int((8 * 2 + 8 + 8) * len(ev)
                      + ev["event_type"].str.len().sum()
                      + ev["props"].str.len().sum()),
        "documents": int(8 * 2 * len(dc) + dc["text"].str.len().sum()
                         + dc["lang"].str.len().sum()
                         + dc["source"].str.len().sum()),
    }
    want = {
        t: (b, max(1, -(-b // (128 << 20))),
            min(2000, max(32, -(-b // (64 << 20)))))
        for t, b in est.items()
    }
    out = {r["tbl"]: (r["est_bytes"], r["scan_partitions"],
                      r["shuffle_partitions"])
           for r in _fn("partition_size_advisor")(spark, sf_dir).collect()}
    assert out == want


def test_rendezvous_hash_routing_matches_python(spark, sf_dir):
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey"])["c_custkey"]
    per_node = defaultdict(lambda: [0, 0])
    for kk in c:
        scores = [(_h60(f"{kk}|{n}"), n) for n in range(8)]
        n8 = max(scores)[1]
        n7 = max(s for s in scores if s[1] < 7)[1]
        per_node[n8][0] += 1
        if n8 != n7:
            per_node[n8][1] += 1
    out = {r["node"]: [r["n_keys"], r["n_moved"]]
           for r in _fn("rendezvous_hash_routing")(spark, sf_dir).collect()}
    assert out == {n: v for n, v in per_node.items()}
    # HRW minimal disruption: only node 7's keys move
    for n, (nk, nm) in out.items():
        assert nm == (nk if n == 7 else 0), (n, nk, nm)


def test_hot_bucket_cap_audit_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    per_band = defaultdict(lambda: defaultdict(int))
    for r in docs.itertuples(index=False):
        toks = re.split(r"\s+", r.text.strip().lower())
        votes = [0] * 60
        from collections import Counter
        for tok, w in Counter(toks).items():
            h = _h60(tok)
            for b in range(60):
                votes[b] += w if (h >> b) & 1 else -w
        for i in range(4):
            val = sum(
                (1 << j) for j in range(15) if votes[i * 15 + j] > 0
            )
            per_band[i][val] += 1
    want = {}
    for i, bmap in per_band.items():
        ns = list(bmap.values())
        want[i] = (len(ns), max(ns),
                   sum(1 for n in ns if n > 8),
                   sum(n * (n - 1) // 2 for n in ns))
    out = {r["band_id"]: (r["n_buckets"], r["max_bucket"],
                          r["n_over_cap8"], r["est_pairs"])
           for r in _fn("hot_bucket_cap_audit")(spark, sf_dir).collect()}
    assert out == want


def test_session_gap_histogram_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_id", "ts"])
    ev["tus"] = ev["ts"].astype("datetime64[us]").astype(np.int64)
    want = defaultdict(int)
    total = 0
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["tus", "event_id"])
        gaps = g["tus"].diff().dropna().astype(np.int64)
        for v in gaps:
            total += 1
            if v <= 60_000_000:
                want["a_under_1m"] += 1
            elif v <= 300_000_000:
                want["b_1_5m"] += 1
            elif v <= 1_800_000_000:
                want["c_5_30m"] += 1
            elif v <= 7_200_000_000:
                want["d_30m_2h"] += 1
            else:
                want["e_over_2h"] += 1
    expect = {b: (n, math.floor(n * 1e6 / total))
              for b, n in want.items()}
    out = {r["bucket"]: (r["n"], r["share_ppm"])
           for r in _fn("session_gap_histogram")(spark, sf_dir).collect()}
    assert out == expect


def test_embedding_batch_drift_matches_python(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "embedding"])
    sums = defaultdict(lambda: defaultdict(int))
    ns = defaultdict(int)
    for r in emb.itertuples(index=False):
        b = int(r.vec_id) % 8
        ns[b] += 1
        for d, x in enumerate(r.embedding):
            sums[b][d] += math.floor(float(x) * 1048576)

    def tdiv(a, b):
        return -((-a) // b) if (a < 0) != (b < 0) else a // b

    dims = range(64)
    sg = {d: sum(sums[b][d] for b in sums) for d in dims}
    ng = sum(ns.values())
    want = {}
    for b in sums:
        drift = sum(
            (tdiv(sums[b][d], ns[b]) - tdiv(sg[d], ng)) ** 2 for d in dims
        )
        want[b] = (ns[b], drift)
    out = {r["batch"]: (r["n_vecs"], r["drift_q"])
           for r in _fn("embedding_batch_drift")(spark, sf_dir).collect()}
    assert out == want


def test_snapshot_diff_audit_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_totalprice",
                                 "o_orderdate"])
    cents = np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).astype(
        np.int64)
    early = o["o_orderdate"] < pd.Timestamp("1995-07-01")
    n_added_01 = int((~early).sum())
    added_cents_01 = int(cents[~early].sum())
    n_removed_12 = int((early & (o["o_orderkey"] % 3 == 0)).sum())
    want = [(0, 1, n_added_01, 0, added_cents_01),
            (1, 2, 0, n_removed_12, 0)]
    out = [(r["from_v"], r["to_v"], r["n_added"], r["n_removed"],
            r["added_cents"])
           for r in _fn("snapshot_diff_audit")(spark, sf_dir)
           .orderBy("from_v").collect()]
    assert out == want


def test_bbit_minhash_estimate_matches_python(spark, sf_dir):
    P = (1 << 31) - 1
    K = 16
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    docs = docs[docs["doc_id"] % 11 == 0]
    toksets, bits = {}, {}
    for r in docs.itertuples(index=False):
        toks = set(re.split(r"\s+", r.text.strip().lower()))
        toksets[int(r.doc_id)] = toks
        hs = [_h60(t) % P for t in toks]
        bits[int(r.doc_id)] = [
            min((h * (2 * j + 1) + 9973 * (j + 1)) % P for h in hs) % 2
            for j in range(K)
        ]
    want = {}
    ids = sorted(toksets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            m = sum(1 for j in range(K) if bits[a][j] == bits[b][j])
            est = max(0, (2 * m - K) * 1_000_000 // K)
            ex = math.floor(
                len(toksets[a] & toksets[b]) * 1e6
                / len(toksets[a] | toksets[b])
            )
            want[(a, b)] = (m, est, ex)
    out = {(r["id_a"], r["id_b"]): (r["n_match_bits"], r["est_j_e6"],
                                    r["exact_j_e6"])
           for r in _fn("bbit_minhash_estimate")(spark, sf_dir).collect()}
    assert out == want


def test_merkle_range_diff_matches_python(spark, sf_dir):
    PRIME = 9007199254740993
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_totalprice"])
    k = o["o_orderkey"].to_numpy()
    cents = np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).astype(
        np.int64)
    da, db = defaultdict(lambda: [0, 0]), defaultdict(lambda: [0, 0])
    for kk, cc in zip(k, cents):
        rng = int(kk) // 500
        da[rng][0] += 1
        da[rng][1] = (da[rng][1] + _h60(f"{kk}|{cc}") % PRIME) % PRIME
        if kk % 1009 != 0:
            c2 = cc + 1 if kk % 997 == 0 else cc
            db[rng][0] += 1
            db[rng][1] = (db[rng][1] + _h60(f"{kk}|{c2}") % PRIME) % PRIME
    want = {}
    for rng, (na, dga) in da.items():
        nb, dgb = db.get(rng, (0, None))
        if dgb is None or dga != dgb:
            want[rng] = (na, nb)
    out = {r["rng"]: (r["n_a"], r["n_b"])
           for r in _fn("merkle_range_diff")(spark, sf_dir).collect()}
    assert out == want
    assert out, "vacuous: no divergent ranges planted at this SF"


def test_fair_share_waterfill_matches_python(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    d = sorted(ev.groupby("user_id").size().to_numpy().tolist())
    total = sum(d)
    cap = total // 2
    nu = len(d)
    # progressive filling: find the largest k whose full demand fits
    cum, k, cum_k = 0, None, 0
    for i, dem in enumerate(d, start=1):
        cum += dem
        if cum + dem * (nu - i) <= cap:
            k, cum_k = i, cum
    lv = (cap - cum_k) // (nu - k) if k is not None else cap // nu
    want = (sum(1 for x in d if x <= lv), sum(1 for x in d if x > lv),
            lv, sum(min(x, lv) for x in d))
    r = _fn("fair_share_waterfill")(spark, sf_dir).collect()[0]
    assert (r["n_satisfied"], r["n_capped"], r["fair_level"],
            r["allocated"]) == want
    # allocation never exceeds capacity, and fills it when demand allows
    assert r["allocated"] <= cap


def test_join_cardinality_qerror_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey"])
    p = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey"])

    def edge(a, b, ka, kb):
        est = len(a) * len(b) // max(a[ka].nunique(), b[kb].nunique())
        actual = len(a.merge(b, left_on=ka, right_on=kb))
        q = max(est * 1000 // max(actual, 1), actual * 1000 // max(est, 1))
        return (est, actual, q)

    want = {
        "lineitem_orders": edge(li, o, "l_orderkey", "o_orderkey"),
        "orders_customer": edge(o, c, "o_custkey", "c_custkey"),
        "lineitem_part": edge(li, p, "l_partkey", "p_partkey"),
    }
    out = {r["edge"]: (r["est"], r["actual"], r["qerror_e3"])
           for r in _fn("join_cardinality_qerror")(spark,
                                                   sf_dir).collect()}
    assert out == want
    # FK joins: the independence estimate is exact -> q-error 1.000
    assert out["lineitem_orders"][2] == 1000


def test_range_frame_halo_boundary_cases(spark):
    """Adversarial timestamps for halo chunking: rows exactly ON block
    boundaries, exactly at the halo cutoff, same-ts peers straddling a
    boundary, and a frame reaching exactly one full block back. Equivalence
    with the plain window must hold row for row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.operators.relational import (
        range_frame_sum_halo,
    )

    frame, chunk = 100, 100   # chunk == frame: the tightest legal setting
    ts = [0, 1, 99, 100, 101, 199, 200, 201, 299, 300,
          100, 100, 199, 200,          # duplicate timestamps at boundaries
          399, 400, 499, 500]
    rows = [(1, t, i + 1) for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, "k long, t long, v long")
    halo = range_frame_sum_halo(
        df, "k", "t", F.col("v"), frame=frame, chunk=chunk, out_col="s"
    )
    w = (Window.partitionBy("k").orderBy("t")
         .rangeBetween(-(frame - 1), Window.currentRow))
    plain = df.withColumn("s2", F.sum("v").over(w))
    got = sorted((r["t"], r["s"]) for r in halo.collect())
    want = sorted((r["t"], r["s2"]) for r in plain.collect())
    assert got == want
    # every input row appears exactly once in the output
    assert halo.count() == len(ts)


def test_partition_size_advisor_prunes_to_string_columns(spark, sf_dir):
    """The advisor's scans must read ONLY the string columns (fixed-width
    contributions are constants folded into the expression) — a scan
    pulling all of lineitem for a byte estimate would be the exact
    anti-pattern the advisor exists to prevent."""
    df = _fn("partition_size_advisor")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    for s in schemas:
        cols = [c.split(":")[0] for c in s.split(",") if c]
        for c in cols:
            assert "string" in s.split(c + ":")[1][:12], (c, s)


def test_salted_twophase_agg_model_check(spark):
    """Seeded random model check: for skewed key distributions (one hot
    key holding most rows), salted_twophase_agg must equal the plain
    groupBy exactly — counts and integer sums, any salt factor."""
    import random

    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.operators.relational import (
        salted_twophase_agg,
    )

    for seed in range(4):
        rng = random.Random(seed)
        rows = []
        for i in range(rng.randint(50, 300)):
            key = 0 if rng.random() < 0.6 else rng.randint(1, 8)
            rows.append((key, rng.randint(-1000, 1000)))
        df = spark.createDataFrame(rows, "k long, v long")
        got = {
            (r["k"]): (r["sv"], r["n"])
            for r in salted_twophase_agg(
                df, ["k"], {"sv": F.sum("v")},
                salt=rng.choice([2, 8, 32]), count_col="n",
            ).collect()
        }
        want = {}
        for k, v in rows:
            s, n = want.get(k, (0, 0))
            want[k] = (s + v, n + 1)
        assert got == want, seed
