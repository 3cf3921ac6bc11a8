"""Round-12 query pins (queries_r13.py): pure-python replays for
the parser/scripting/regex/calendar wave — hash parity is covered by the
replica runs; these pin the SEMANTICS against an independent
reimplementation."""

from __future__ import annotations

import math
import re
from collections import defaultdict

import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY
from registry_checks import assert_module_registered


def _fn(name):
    return REGISTRY[name].fn


def _cents(x):
    c = math.floor(abs(x) * 100 + 0.5)
    return c if x >= 0 else -c


def test_iso_week_boundaries_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    agg = defaultdict(lambda: [0, 0, 0])
    for r in o.itertuples(index=False):
        d = r.o_orderdate.date()
        iy, iw, _ = d.isocalendar()
        a = agg[(iy, iw)]
        a[0] += 1
        a[1] += _cents(r.o_totalprice)
        a[2] += 1 if iy != d.year else 0
    want = sorted((k[0], k[1], v[0], v[1], v[2])
                  for k, v in agg.items() if v[2] > 0)
    out = [(r["iso_year"], r["iso_week"], r["n_orders"], r["cents"],
            r["n_cross_year"])
           for r in _fn("iso_week_boundaries")(spark, sf_dir).collect()]
    assert out == want
    assert out, "no ISO boundary weeks in the span — vacuous"


def test_lateral_alias_chain_matches_python(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_extendedprice",
                                  "l_discount"])
    agg = defaultdict(lambda: [0, 0, 0])
    for r in li.itertuples(index=False):
        cents = _cents(r.l_extendedprice)
        bp = math.floor(r.l_discount * 10000 + 0.5)
        disc = cents * bp // 10000
        net = cents - disc
        fee = net * 4 // 100
        a = agg[r.l_returnflag]
        a[0] += 1
        a[1] += net
        a[2] += net - fee
    want = sorted((k, *v) for k, v in agg.items())
    out = [(r["l_returnflag"], r["n_rows"], r["net_cents"],
            r["after_fee_cents"])
           for r in _fn("lateral_alias_pricing_chain")(spark, sf_dir)
           .collect()]
    assert out == want


def test_unpivot_include_nulls_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_orderpriority",
                                 "o_orderstatus", "o_totalprice"])
    agg = defaultdict(lambda: [0, 0, 0])
    for r in o.itertuples(index=False):
        vals = {
            "total_cents": _cents(r.o_totalprice),
            "status_code": ord(r.o_orderstatus[0]),
            "risk_score": (None if int(r.o_orderkey) % 3 == 0
                           else int(r.o_orderkey) % 97),
        }
        for metric, v in vals.items():
            a = agg[(r.o_orderpriority, metric)]
            a[0] += 1  # INCLUDE NULLS: every metric keeps every row
            if v is not None:
                a[1] += 1
                a[2] += v
    want = sorted((k[0], k[1], *v) for k, v in agg.items())
    out = [(r["pri"], r["metric"], r["n_rows"], r["n_nonnull"], r["sum_v"])
           for r in _fn("unpivot_sql_include_nulls")(spark, sf_dir)
           .collect()]
    assert out == want
    # the planted NULLs must actually be dropped from n_nonnull
    assert any(r[2] != r[3] for r in out)


def test_for_cursor_matches_python_fold(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderpriority", "o_totalprice"])
    per = defaultdict(int)
    for r in o.itertuples(index=False):
        per[r.o_orderpriority] += _cents(r.o_totalprice)
    acc, n = 0, 0
    for pri in sorted(per):
        x = per[pri] % 9973
        acc = x if n == 0 else (acc * 31 + x) % 1000000007
        n += 1
    row = _fn("sql_scripting_for_cursor")(spark, sf_dir).collect()[0]
    assert (row["n_steps"], row["fold_acc"]) == (n, acc)


def test_mask_builtin_matches_python(spark, sf_dir):
    su = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                         columns=["s_suppkey", "s_name", "s_nationkey"])
    agg = defaultdict(lambda: [0, set()])
    for r in su.itertuples(index=False):
        raw = f"ID-{r.s_name[:8].upper()}-{int(r.s_suppkey) * 37}"
        m = re.sub(r"[0-9]", "n",
                   re.sub(r"[a-z]", "x", re.sub(r"[A-Z]", "X", raw)))
        a = agg[m]
        a[0] += 1
        a[1].add(int(r.s_nationkey))
    want = sorted((k, v[0], len(v[1])) for k, v in agg.items())
    out = [(r["masked_shape"], r["n_ids"], r["n_nations"])
           for r in _fn("mask_builtin_redact")(spark, sf_dir).collect()]
    assert out == want


def test_regexp_position_family_matches_python(spark, sf_dir):
    p = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_name"])
    agg = defaultdict(lambda: [0, 0])
    pat = re.compile(r"[aeiou]{2}")
    for name in p.p_name:
        hits = pat.findall(name)
        first = pat.search(name)
        a = agg[len(hits)]
        a[0] += 1
        a[1] += (first.start() + 1) if first else 0
    want = sorted((k, *v) for k, v in agg.items())
    out = [(r["n_double_vowels"], r["n_parts"], r["sum_first_pos"])
           for r in _fn("regexp_position_family")(spark, sf_dir).collect()]
    assert out == want


def test_r13_queries_registered_live():
    assert_module_registered("queries_r13")


def test_bround_half_even_matches_python(spark, sf_dir):
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet",
                         columns=["c_nationkey", "c_acctbal"])
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in cu.itertuples(index=False):
        x = _cents(r.c_acctbal) / 2.0
        a = agg[int(r.c_nationkey)]
        a[0] += 1
        is_half = x == math.floor(x) + 0.5
        a[1] += 1 if is_half else 0
        # python round() IS banker's — exactly bround here
        a[2] += round(x)
        # half-away-from-zero
        a[3] += (math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5))
    want = sorted((k, *v) for k, v in agg.items())
    out = [(r["nationkey"], r["n_customers"], r["n_exact_halves"],
            r["sum_bankers"], r["sum_half_away"])
           for r in _fn("bround_half_even_audit")(spark, sf_dir).collect()]
    assert out == want
    # the tie rows exist and the two rules actually diverge somewhere
    assert sum(r[2] for r in out) > 0
    assert any(r[3] != r[4] for r in out)


def test_try_sum_overflow_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderpriority", "o_totalprice"])
    agg = defaultdict(lambda: [0, 0])
    for r in o.itertuples(index=False):
        mult = 100_000_000_000 if r.o_orderpriority == "1-URGENT" else 1
        a = agg[r.o_orderpriority]
        a[0] += 1
        a[1] += _cents(r.o_totalprice) * mult  # python int: no overflow
    want = []
    for pri in sorted(agg):
        n, s = agg[pri]
        over = s > 2**63 - 1
        want.append((pri, n, None if over else s, 1 if over else 0))
    out = [(r["pri"], r["n_orders"], r["total"], r["overflowed"])
           for r in _fn("try_sum_overflow_audit")(spark, sf_dir).collect()]
    assert out == want
    # exactly the scaled group overflows
    assert [r[0] for r in out if r[3]] == ["1-URGENT"]
