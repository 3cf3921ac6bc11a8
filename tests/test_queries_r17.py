"""Round-14-wave pins (queries_r17.py): pure-python replays against
independent reimplementations (numpy / pandas / stdlib) plus the
registration checks. Hash parity is covered by the replica runs
recorded in SCALE.md; these
pin the SEMANTICS. All integer division below is on non-negative
operands, so python's // (floor) equals the engines' truncating div.
"""

from __future__ import annotations

import math

import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY
from gan_deeplearning4j_spark.queries_r17 import _BUDGETS, _FX, _K, _NQ
from registry_checks import (
    assert_module_registered,
    assert_window_covers,
    declared_names,
    unbound_oracles,
)


def _fn(name):
    return REGISTRY[name].fn


def _emb(sf_dir):
    return pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                           columns=["vec_id", "embedding"])


def _toks(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "source", "text"])
    docs["nt"] = docs.text.map(lambda t: len(t.strip().split()))
    return docs


def test_binary_sign_quant_audit_matches_python(spark, sf_dir):
    emb = _emb(sf_dir)
    n = len(emb)
    want = []
    for d in range(64):
        vals = [float(v[d]) for v in emb.embedding]
        n_pos = sum(1 for x in vals if x > 0)
        n_zero = sum(1 for x in vals if x == 0)
        want.append((d, n_pos, n_zero, n - n_pos - n_zero,
                     n_pos * 1000000 // n))
    out = [(r["d"], r["n_pos"], r["n_zero"], r["n_neg"], r["pos_ppm"])
           for r in _fn("binary_sign_quant_audit")(spark, sf_dir).collect()]
    assert out == want
    assert len({w[4] for w in want}) > 1, "constant pos_ppm — vacuous"


def _codes_py(emb):
    """(vec_id -> (lo, hi, u)) replaying the shared derivation."""
    codes = {}
    for r in emb.itertuples(index=False):
        ev = [float(x) for x in r.embedding]
        xq = [math.floor(x * float(_FX)) for x in ev]
        ss = max(sum(v * v for v in xq), 1)
        u = [math.floor(v / math.sqrt(ss) * float(_FX)) for v in xq]
        lo = sum((1 << d) for d in range(32) if ev[d] > 0)
        hi = sum((1 << (d - 32)) for d in range(32, 64) if ev[d] > 0)
        codes[int(r.vec_id)] = (lo, hi, u)
    return codes


def test_hamming_rerank_recall_matches_python(spark, sf_dir):
    codes = _codes_py(_emb(sf_dir))
    want = []
    for qid in range(_NQ):
        qlo, qhi, qu = codes[qid]
        ham, dot = [], []
        for cid, (lo, hi, u) in codes.items():
            if cid == qid:
                continue
            ham.append(((qlo ^ lo).bit_count() + (qhi ^ hi).bit_count(),
                        cid))
            dot.append((-sum(a * b for a, b in zip(qu, u)), cid))
        top_h = {c for _, c in sorted(ham)[:_K]}
        top_e = {c for _, c in sorted(dot)[:_K]}
        n_ov = len(top_h & top_e)
        want.append((qid, n_ov, n_ov * 1000000 // _K))
    out = [(r["query_id"], r["n_overlap"], r["recall_ppm"])
           for r in _fn("hamming_rerank_recall")(spark, sf_dir).collect()]
    assert out == want
    ovs = {w[1] for w in want}
    assert ovs != {0} and ovs != {_K}, f"degenerate recall set {ovs}"


def test_context_truncation_waste_matches_python(spark, sf_dir):
    toks = _toks(sf_dir)
    want = []
    for b in _BUDGETS:
        for source, g in toks.groupby("source"):
            nts = [int(x) for x in g.nt]
            tot = sum(nts)
            lost = sum(max(nt - b, 0) for nt in nts)
            pad = sum(b - min(nt, b) for nt in nts)
            want.append((
                b, source, len(nts),
                sum(1 for nt in nts if nt > b), tot, lost,
                0 if tot == 0 else lost * 1000000 // tot,
                pad, pad * 1000000 // (len(nts) * b),
            ))
    want.sort(key=lambda x: (x[0], x[1]))
    out = [(r["budget"], r["source"], r["n_docs"], r["n_truncated"],
            r["tokens_total"], r["tokens_lost"], r["loss_ppm"],
            r["pad_tokens"], r["pad_ppm"])
           for r in _fn("context_truncation_waste")(spark, sf_dir)
           .collect()]
    assert out == want
    by_budget = {b: sum(w[5] for w in want if w[0] == b) for b in _BUDGETS}
    assert by_budget[_BUDGETS[0]] > 0, "smallest budget loses nothing"
    assert by_budget[_BUDGETS[-1]] == 0, (
        "largest budget should pin the zero-loss regime on this corpus")


def test_dataloader_rank_manifest_matches_python(spark, sf_dir):
    toks = _toks(sf_dir)
    per_src = []
    for source, g in toks.groupby("source"):
        tot = int(g.nt.sum())
        per_src.append((source, tot, (tot + 511) // 512))
    per_src.sort()
    shards = {}
    off = 0
    for _, tot, nw in per_src:
        for w in range(nw):
            gidx = off + w
            wtok = tot - (nw - 1) * 512 if w == nw - 1 else 512
            key = (gidx % 4, (gidx // 4) % 2)
            n, t, tails = shards.get(key, (0, 0, 0))
            shards[key] = (n + 1, t + wtok, tails + (1 if wtok < 512 else 0))
        off += nw
    tot_all = sum(t for _, t, _ in shards.values())
    want = [(rk, wk, n, t, tails,
             0 if tot_all == 0 else t * 1000000 // tot_all)
            for (rk, wk), (n, t, tails) in sorted(shards.items())]
    out = [(r["dl_rank"], r["dl_worker"], r["n_windows"], r["n_tokens"],
            r["n_tail_windows"], r["token_share_ppm"])
           for r in _fn("dataloader_rank_manifest")(spark, sf_dir)
           .collect()]
    assert out == want
    assert len(want) == 8
    shares = {w[5] for w in want}
    assert len(shares) > 1, "identical shares everywhere — suspicious"


def test_r17_wave_is_registered_live():
    assert_module_registered("queries_r17")


def test_r17_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r17")


def test_r17_staged_oracles_bind_in_duckdb(sf_dir):
    assert not unbound_oracles(sf_dir, declared_names("queries_r17"))