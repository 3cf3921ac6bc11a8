"""Round-14-wave pins (queries_r16.py, flipped LIVE mid-round 13):
pure-python replays for
the packing/ordering wave — hash parity is covered by the replica
runs; these pin the SEMANTICS against an independent reimplementation
(hashlib/stdlib). NOTE on signed modular arithmetic: the queries use the
explicit ((x % n) + n) % n form in BOTH engines, and python's % already
floors to non-negative, so the replay can use plain %."""

from __future__ import annotations

import hashlib
from collections import defaultdict

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


def _toks(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "source", "text"])
    docs["nt"] = docs.text.map(lambda t: len(t.strip().split()))
    return docs


def _spans_py(docs):
    """Per-source Lehmer-ordered token spans (the shared CTE's math)."""
    out = []
    for source, g in docs.groupby("source"):
        g = g.sort_values(
            by=["doc_id"],
            key=lambda s: s.map(lambda d: ((d * 48271) % 65537, d)),
        )
        acc = 0
        for r in g.itertuples(index=False):
            s_start, s_end = acc, acc + r.nt
            acc = s_end
            out.append((r.doc_id, source, r.nt, s_start, s_end,
                        s_start // 512, (s_end - 1) // 512))
    return pd.DataFrame(out, columns=[
        "doc_id", "source", "nt", "s_start", "s_end", "first_w",
        "last_w"])


def test_token_window_packing_matches_python(spark, sf_dir):
    sp = _spans_py(_toks(sf_dir))
    want = {}
    for source, g in sp.groupby("source"):
        tot = int(g.nt.sum())
        nw = (tot + 511) // 512
        want[source] = (
            len(g), tot, nw, int((g.last_w > g.first_w).sum()),
            int((g.last_w - g.first_w).sum()), tot - (nw - 1) * 512,
        )
    got = _fn("token_window_packing")(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        assert want[r.source] == (
            r.n_docs, r.total_tokens, r.n_windows, r.n_split_docs,
            r.boundary_crossings, r.tail_fill_tokens,
        ), r.source
    # non-vacuous: splits exist in every source on this corpus
    assert all(r.n_split_docs > 0 for r in got)


def test_pack_fragmentation_matches_python(spark, sf_dir):
    sp = _spans_py(_toks(sf_dir))
    got = {r.source: r for r in
           _fn("pack_fragmentation_report")(spark, sf_dir).collect()}
    for source, g in sp.groupby("source"):
        split = g.last_w > g.first_w
        tail = g.s_end - g.last_w * 512
        lost = int(tail[split & (tail < 64)].sum())
        r = got[source]
        assert r.n_intact == int((~split).sum())
        assert r.n_2frag == int((g.last_w == g.first_w + 1).sum())
        assert r.n_3plus_frag == int((g.last_w > g.first_w + 1).sum())
        assert r.n_tail_lt64 == int((split & (tail < 64)).sum())
        assert r.salvage_tokens_lost == lost
        assert r.loss_ppm == lost * 1000000 // int(g.nt.sum())
    # structural zero documented in the docstring: no doc exceeds 512
    # tokens on this corpus, so nothing can cross two boundaries
    assert sum(r.n_3plus_frag for r in got.values()) == 0
    assert sum(r.n_2frag for r in got.values()) > 0


def _md5fold(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_seeded_epoch_shuffle_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id"])
    ids = docs.doc_id.tolist()
    got = {r.epoch: r for r in
           _fn("seeded_epoch_shuffle")(spark, sf_dir).collect()}
    assert set(got) == {0, 1, 2}
    heads = set()
    for e in range(3):
        order = sorted(ids, key=lambda d: (_md5fold(f"{e}:{d}"), d))
        rn = {d: i + 1 for i, d in enumerate(order)}
        r = got[e]
        assert r.n_docs == len(ids)
        assert r.head8 == "|".join(str(d) for d in order[:8])
        assert r.perm_checksum == sum(
            rn[d] * ((d % 97) + 1) for d in ids)
        heads.add(r.head8)
    # different epoch salts must actually produce different permutations
    assert len(heads) == 3


def _schedule_py(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "source", "text"])
    docs["nt"] = docs.text.map(lambda t: len(t.strip().split()))
    taken = []  # (epoch, source, doc_id, nt, n, q)
    for source, g in docs.groupby("source"):
        order = sorted(
            g.itertuples(index=False),
            key=lambda r: ((r.doc_id * 48271) % 65537, r.doc_id),
        )
        n = len(order)
        q = 12 if int(source[3:]) < 10 else 6
        for e in range(4):
            for rk, row in enumerate(order):
                if ((rk - e * q) % n) < q:
                    taken.append((e, source, row.doc_id, row.nt, n, q))
    return taken


def test_epoch_domain_mix_schedule_matches_python(spark, sf_dir):
    taken = _schedule_py(sf_dir)
    first = {}
    for e, s, d, nt, n, q in taken:
        first.setdefault((s, d), e)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n_taken, cks, first, n
    for e, s, d, nt, n, q in taken:
        a = agg[(e, s)]
        a[0] += 1
        a[1] += d
        a[2] += 1 if first[(s, d)] == e else 0
        a[3] = n
    got = _fn("epoch_domain_mix_schedule")(spark, sf_dir).collect()
    assert len(got) == len(agg) == 80
    cum = defaultdict(int)
    for r in sorted(got, key=lambda r: (r.epoch, r.source)):
        a = agg[(r.epoch, r.source)]
        cum[r.source] += a[2]
        assert (r.n_taken, r.pick_checksum, r.n_first_time) == (
            a[0], a[1], a[2]), (r.epoch, r.source)
        assert r.coverage_ppm_cum == cum[r.source] * 1000000 // a[3]
    # within-epoch takes equal the quota exactly (q < min source size)
    assert all(r.n_taken == (12 if int(r.source[3:]) < 10 else 6)
               for r in got)


def test_mix_schedule_drift_matches_python(spark, sf_dir):
    taken = _schedule_py(sf_dir)
    tok = defaultdict(int)
    qs = {}
    for e, s, d, nt, n, q in taken:
        tok[(e, s)] += nt
        qs[s] = q
    got = _fn("mix_schedule_drift_audit")(spark, sf_dir).collect()
    assert len(got) == 80
    q_sum = sum(qs.values())
    for r in got:
        tok_epoch = sum(v for (e, s), v in tok.items() if e == r.epoch)
        actual = tok[(r.epoch, r.source)] * 1000000 // tok_epoch
        target = qs[r.source] * 1000000 // q_sum
        assert (r.actual_ppm, r.target_ppm, r.drift_ppm) == (
            actual, target, actual - target)
    assert any(r.drift_ppm != 0 for r in got)


def test_repack_delta_matches_python(spark, sf_dir):
    docs = _toks(sf_dir)
    got = {r.source: r for r in
           _fn("repack_delta_audit")(spark, sf_dir).collect()}
    for source, g in docs.groupby("source"):
        tot = int(g.nt.sum())
        kept = int(g.nt[g.nt >= 20].sum())
        r = got[source]
        assert r.n_docs_all == len(g)
        assert r.n_docs_kept == int((g.nt >= 20).sum())
        assert (r.tokens_all, r.tokens_kept) == (tot, kept)
        assert r.windows_all == (tot + 511) // 512
        assert r.windows_kept == (kept + 511) // 512
        assert r.token_drop_ppm == (tot - kept) * 1000000 // tot
    # the filter actually fires somewhere
    assert any(r.n_docs_kept < r.n_docs_all for r in got.values())


def test_r16_wave_is_registered_live():
    assert_module_registered("queries_r16")


def test_r16_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r16")


def test_r16_staged_oracles_bind_in_duckdb(sf_dir):
    assert not unbound_oracles(sf_dir, declared_names("queries_r16"))