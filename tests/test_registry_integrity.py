"""Registry-wide integrity net: every entry documented, every oracle
binds in DuckDB (EXPLAIN only — catches SQL bitrot without running
anything), names stay stable snake_case."""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import pathlib
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from gan_deeplearning4j_spark.queries import BODY_MODULES, REGISTRY
from registry_checks import (
    assert_module_registered,
    assert_window_covers,
    declared_names,
    never_green,
    unbound_oracles,
)


def test_every_query_is_documented_and_named_sanely():
    for name, q in REGISTRY.items():
        assert re.fullmatch(r"[a-z][a-z0-9_]+", name), name
        assert q.doc and len(q.doc) > 40, f"{name} lacks a real doc"


def test_every_oracle_binds_in_duckdb(sf_dir):
    bad = unbound_oracles(sf_dir, REGISTRY)
    assert not bad, bad


def test_rows_only_queries_are_the_documented_set():
    rows_only = {n for n, q in REGISTRY.items() if not q.oracle}
    # bpe_train_merges / bpe_tokenize_stats retired in r9 (rows-only
    # shadows of the hash-grade *_fixed twins; r8 verdict ask #7).
    # r10 (r9 verdict ask #7): pq_topk/ivfpq_topk retired (coverage folded
    # into the hash-grade fixed twins + operator recall tests),
    # multimodal_features/audio_features promoted to golden fixed-point
    # oracles. r12 (r11 verdict ask #1): the final five promoted to
    # guarantee-bracket / shape-bracket oracles in place (the
    # ★hll_sketch_union_bracket house pattern) — approx_quantiles
    # (accuracy=1000 rank-error band at p50/p95/p99), approx_distinct
    # (global rsd=0.01 5-sigma band), hll_mergeable_daily_users (weekly
    # re-union 5% band), heavy_hitters_approx (KSP superset-recall flag
    # over the exact top-20), gan_grid_inference (shape/range/order
    # bracket; exact values stay pinned by the ★ fixed twin). The
    # registry is now 100% oracled: no driver window can record an
    # `err: no_oracle` row.
    assert rows_only == set()


def test_queries_ordering_contract():
    """queries() must return every registered query exactly once, with the
    documented least-verified-first policy: all never-green entries before
    any green one, oracled never-green before rows-only never-green."""
    from gan_deeplearning4j_spark.queries import (
        REGISTRY,
        _verification_evidence,
        queries,
    )

    ordered = list(queries())
    assert sorted(ordered) == sorted(REGISTRY)  # a permutation, no loss
    ev = _verification_evidence()
    seen_green = False
    seen_rows_only_never = False
    for name in ordered:
        green = name in ev
        if green:
            seen_green = True
        else:
            assert not seen_green, f"never-green {name} after a green entry"
            if REGISTRY[name].oracle is None:
                seen_rows_only_never = True
            else:
                assert not seen_rows_only_never, (
                    f"oracled never-green {name} after rows-only never-green"
                )


def test_headline_set_is_stable_and_registered():
    """bench.py times REGISTRY entries flagged headline; the set must stay
    non-trivial and every member must be a registered, runnable query (the
    driver's BENCH_r{N} comparisons depend on name stability)."""
    from gan_deeplearning4j_spark.queries import REGISTRY, headline_queries

    hs = headline_queries()
    assert len(hs) >= 10
    assert set(hs) <= set(REGISTRY)
    # the long-standing comparison anchors must never be renamed
    for anchor in ("tpch_q1_pricing", "tpch_q3_shipping", "minhash_dedup",
                   "embedding_neardup_lsh", "topk_per_group"):
        assert anchor in hs, anchor


# sha256 over the sorted (name, oracle, headline) triples: the contract
# content of the registry. A change here must be deliberate.
REGISTRY_DIGEST = (
    "7a1924dd34299c6f60266a44b2eeef8cf8329f5342a3df8f0d9d67f525a0e243"
)


def test_registry_digest_is_pinned():
    triples = sorted([n, q.oracle, q.headline] for n, q in REGISTRY.items())
    digest = hashlib.sha256(json.dumps(triples).encode()).hexdigest()
    assert (len(REGISTRY), digest) == (472, REGISTRY_DIGEST)


def test_registry_is_every_module_in_module_order():
    """REGISTRY is the concatenation of each body module's declared names,
    modules in BODY_MODULES order, each in source order."""
    assert list(REGISTRY) == [
        n for mod in BODY_MODULES for n in declared_names(mod)
    ]


def test_register_rejects_a_taken_name():
    from gan_deeplearning4j_spark.registry import register

    name = next(iter(REGISTRY))
    before = REGISTRY[name]
    with pytest.raises(ValueError, match=name):
        register(name, oracle="SELECT 1", doc="a second query")(
            lambda spark, sf_dir: None
        )
    assert REGISTRY[name] is before


def test_never_green_entries_fit_the_check_window():
    never_green()


@pytest.mark.parametrize("make_oracle", [
    "queries_r6._ivf_fixed_oracle",
    "queries_ext._pq_fixed_oracle",
    "queries_ext._ivfpq_fixed_oracle",
    "queries_r8._recall_pq_oracle",
])
def test_fixed_point_oracles_raise_when_reference_books_fail(monkeypatch,
                                                             make_oracle):
    """A reference-book failure surfaces with its cause instead of leaving
    the query registered without an oracle."""
    from gan_deeplearning4j_spark.operators import similarity

    def broken(*args, **kwargs):
        raise OSError("reference corpus unreadable")

    monkeypatch.setattr(similarity, "ivfpq_fixed_reference", broken)
    monkeypatch.setattr(similarity, "pq_fixed_reference_books", broken)
    mod, fn = make_oracle.split(".")
    build = getattr(
        importlib.import_module(f"gan_deeplearning4j_spark.{mod}"), fn
    )
    with pytest.raises(OSError, match="reference corpus unreadable"):
        build()


_IMPORT_FIRST = """
import importlib, json, sys
first = "gan_deeplearning4j_spark." + sys.argv[1]
importlib.import_module(first)
loaded = "gan_deeplearning4j_spark.queries" in sys.modules
import gan_deeplearning4j_spark.queries as Q
print(json.dumps({"loaded_queries": loaded and first != Q.__name__,
                  "registry": list(Q.REGISTRY),
                  "queries": list(Q.queries())}))
"""


def test_direct_import_of_any_query_module_works():
    """Importing any body module first, then queries, gives the same
    REGISTRY and queries() order as importing queries first, and no body
    module imports queries (so the module graph has no cycle)."""
    def run(mod):
        out = subprocess.run(
            [sys.executable, "-c", _IMPORT_FIRST, mod],
            cwd=str(pathlib.Path(__file__).resolve().parents[1]),
            env=dict(os.environ), capture_output=True, text=True,
            timeout=300,
        )
        assert out.returncode == 0, (mod, out.stderr[-1500:])
        return json.loads(out.stdout)

    with ThreadPoolExecutor(max_workers=4) as pool:
        runs = dict(zip(BODY_MODULES, pool.map(run, BODY_MODULES)))
    base = runs["queries"]
    assert len(base["registry"]) == len(REGISTRY)
    for mod, got in runs.items():
        assert not got["loaded_queries"], f"{mod} imports queries"
        assert got["registry"] == base["registry"], mod
        assert got["queries"] == base["queries"], mod


def test_r7_wave_is_registered():
    assert_module_registered("queries_r7")


def test_r7_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r7")


def test_r8_wave_is_registered():
    assert_module_registered("queries_r8")


def test_r8_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r8")


def test_r9_wave_is_registered():
    assert_module_registered("queries_r9")


def test_r9_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r9")


def test_r10_wave_is_registered():
    assert_module_registered("queries_r10")


def test_r10_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r10")


def test_r11_wave_is_registered():
    assert_module_registered("queries_r11")


def test_r11_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r11")


def test_r11_staged_oracles_bind_in_duckdb(sf_dir):
    assert not unbound_oracles(sf_dir, declared_names("queries_r11"))


def test_r12_wave_is_registered():
    assert_module_registered("queries_r12")


def test_r12_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r12")


def test_r13_wave_is_registered():
    assert_module_registered("queries_r13")


def test_r13_driver_window_covers_every_unverified_entry():
    assert_window_covers("queries_r13")
