"""Round-12 query pins: pure-python replays (hash parity is covered
by the replica runs; these pin the SEMANTICS against an independent
reimplementation) for the engine-surface wave — map higher-order
functions, GROUP BY ALL, calendar month clamping, DataFrame.transpose,
the _metadata compaction plan, and the near-dup quality election."""

from __future__ import annotations

import calendar
import math
import re
from collections import defaultdict

import pandas as pd

from gan_deeplearning4j_spark.queries import REGISTRY


def _fn(name):
    return REGISTRY[name].fn


def test_map_transform_audit_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type"])
    ev = ev[ev.event_type.isin(["click", "purchase"])]
    counts = defaultdict(lambda: defaultdict(int))
    for r in ev.itertuples(index=False):
        counts[r.event_type][r.ts.hour] += 1
    c, p = counts["click"], counts["purchase"]
    thr = sum(c.values()) // len(c)
    want = []
    for h in sorted(set(c) | set(p)):
        ch, ph = c.get(h, 0), p.get(h, 0)
        want.append((h, ch, ph, ch - ph, ch * 10,
                     1 if (h in c and ch >= thr) else 0))
    out = [(r["h"], r["clicks"], r["purchases"],
            r["click_minus_purchase"], r["clicks_x10"], r["is_busy"])
           for r in _fn("map_transform_audit")(spark, sf_dir).collect()]
    assert out == want


def test_map_transform_audit_degenerate_one_sided(spark, sf_dir, tmp_path):
    """r11 advice: a corpus with one event type entirely absent must still
    emit the non-empty side's hours (the empty side becomes map(), not a
    0-row crossJoin input that collapses the result)."""
    import shutil

    import duckdb

    from gan_deeplearning4j_spark.queries import REGISTRY

    q = REGISTRY["map_transform_audit"]
    for missing in ("purchase", "click"):
        d = tmp_path / f"no_{missing}"
        d.mkdir()
        shutil.copy(f"{sf_dir}/lineitem.parquet", d / "lineitem.parquet")
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT * FROM '{sf_dir}/events.parquet' "
            f"WHERE event_type != '{missing}') "
            f"TO '{d}/events.parquet' (FORMAT PARQUET)"
        )
        sdf = q.fn(spark, str(d)).toPandas()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'"
        )
        odf = con.sql(q.oracle).df()
        assert len(sdf) == len(odf) > 0, (missing, len(sdf), len(odf))
        cols = sorted(sdf.columns)

        def canon(df):
            return sorted(
                tuple(str(x) for x in r)
                for r in df[cols].itertuples(index=False)
            )

        assert canon(sdf) == canon(odf), missing


def test_group_by_all_pricing_matches_pandas(spark, sf_dir):
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_linestatus", "l_discount",
                 "l_extendedprice"])
    agg = defaultdict(lambda: [0, 0, 0])
    for r in li.itertuples(index=False):
        a = agg[(r.l_returnflag, r.l_linestatus)]
        a[0] += 1
        a[1] += 1 if r.l_discount >= 0.05 else 0
        # SQL round is half-away-from-zero; python round is banker's
        a[2] += math.floor(r.l_extendedprice * 100 + 0.5)
    want = sorted((k[0], k[1], v[0], v[1], v[2])
                  for k, v in agg.items())
    out = [(r["l_returnflag"], r["l_linestatus"], r["n_rows"],
            r["n_discounted"], r["gross_cents"])
           for r in _fn("group_by_all_pricing")(spark, sf_dir).collect()]
    assert out == want


def _add_months_clamped(d, k):
    y, m = divmod((d.year * 12 + d.month - 1) + k, 12)
    m += 1
    day = min(d.day, calendar.monthrange(y, m)[1])
    return d.replace(year=y, month=m, day=day)


def test_calendar_month_clamp_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_orderdate",
                                 "o_orderpriority"])
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in o.itertuples(index=False):
        d = r.o_orderdate.date()
        k = int(r.o_orderkey) % 25 - 12
        s = _add_months_clamped(d, k)
        a = agg[r.o_orderpriority]
        a[0] += 1
        a[1] += 1 if s.day != d.day else 0
        a[2] += 1 if s.day == calendar.monthrange(s.year, s.month)[1] else 0
        a[3] += (s - d).days
    want = sorted((k, *v) for k, v in agg.items())
    out = [(r["pri"], r["n_orders"], r["n_clamped"], r["n_on_month_end"],
            r["sum_shift_days"])
           for r in _fn("calendar_month_clamp_audit")(spark, sf_dir)
           .collect()]
    assert out == want
    # the clamp must actually fire somewhere (non-vacuous)
    assert sum(r[2] for r in out) > 0


def test_transpose_region_metrics_shape(spark, sf_dir):
    out = _fn("transpose_region_metrics")(spark, sf_dir)
    rows = out.collect()
    # 3 metric rows; columns = key + the five region names
    assert sorted(r["key"] for r in rows) == [
        "bal_cents", "n_customers", "n_nations"]
    assert out.columns[0] == "key"
    assert sorted(out.columns[1:]) == [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    # cross-check one cell against pandas
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet",
                         columns=["c_nationkey", "c_custkey"])
    na = pd.read_parquet(f"{sf_dir}/nation.parquet")
    re_ = pd.read_parquet(f"{sf_dir}/region.parquet")
    j = cu.merge(na, left_on="c_nationkey", right_on="n_nationkey").merge(
        re_, left_on="n_regionkey", right_on="r_regionkey")
    n_by_region = j.groupby("r_name")["c_custkey"].count().to_dict()
    got = next(r for r in rows if r["key"] == "n_customers")
    for name, n in n_by_region.items():
        assert got[name] == n


def test_compaction_plan_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey"])
    sizes = sorted(
        (int(pt), int(n))
        for pt, n in (o.o_custkey % 32).value_counts().items()
    )
    total = sum(n for _, n in sizes)
    target = max(1, total // 10)
    plans, binid, acc, cur = [], 1, 0, [0, 0]  # (files, rows)
    for _pt, n in sizes:
        if acc > 0 and acc + n > target:
            plans.append((binid, *cur))
            binid, acc, cur = binid + 1, n, [1, n]
        else:
            acc += n
            cur[0] += 1
            cur[1] += n
    plans.append((binid, *cur))
    want = [(b, f, r, r * 1_000_000 // target) for b, f, r in plans]
    out = [(r["bin_id"], r["n_src_files"], r["bin_rows"], r["fill_ppm"])
           for r in _fn("compaction_plan_audit")(spark, sf_dir).collect()]
    assert out == want
    # every bucket produced exactly one physical file
    assert sum(r[1] for r in out) == len(sizes)


def _union_find_elect(docs, thresh=0.8):
    grams, toks = {}, {}
    for r in docs.itertuples(index=False):
        t = [x for x in re.split(r"\s+", r.text.strip().lower()) if x]
        toks[int(r.doc_id)] = t
        grams[int(r.doc_id)] = {
            " ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))
        }
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    ids = sorted(grams)
    matched = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ga, gb = grams[a], grams[b]
            if len(ga & gb) / len(ga | gb) >= thresh:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                matched |= {a, b}
    clusters = defaultdict(list)
    for d in matched:
        clusters[find(d)].append(d)
    return clusters, toks


def test_neardup_quality_elect_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text", "n_chars"])
    clusters, toks = _union_find_elect(docs)
    nchars = {int(r.doc_id): int(r.n_chars)
              for r in docs.itertuples(index=False)}

    def score(d):
        return len(set(toks[d])) * 1_000_000 + nchars[d]

    want = []
    for comp, members in clusters.items():
        kept = max(members, key=lambda d: (score(d), -d))
        want.append((comp, len(members), kept, score(kept)))
    want.sort(key=lambda t: (-t[1], t[0]))
    out = [(r["cluster_id"], r["n_docs"], r["kept_doc_id"],
            r["kept_score"])
           for r in _fn("neardup_quality_elect")(spark, sf_dir).collect()]
    assert out == want[:25]
    assert out, "no near-dup clusters at this SF — vacuous"


def _h60(s):
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_session_variable_pricing_matches_pandas(spark, sf_dir):
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet",
                         columns=["c_nationkey", "c_acctbal"])

    def cents(x):
        c = math.floor(abs(x) * 100 + 0.5)
        return c if x >= 0 else -c

    vals = [(int(r.c_nationkey), cents(r.c_acctbal))
            for r in cu.itertuples(index=False)]
    # python // floors; Spark div truncates — identical for the
    # positive-sum case, asserted here so a sign flip can't hide
    total = sum(c for _, c in vals)
    assert total >= 0
    thr = total // len(vals)
    agg = defaultdict(lambda: [0, 0])
    for nk, c in vals:
        if c >= thr:
            agg[nk][0] += 1
            agg[nk][1] += c
    want = sorted((nk, v[0], v[1]) for nk, v in agg.items())
    out = [(r["nationkey"], r["n_above"], r["cents_above"])
           for r in _fn("session_variable_pricing")(spark, sf_dir)
           .collect()]
    assert out == want


def test_hll_sketch_union_bracket_flags_true(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "user_id"])
    want = sorted(
        (t, g.user_id.nunique(), 1)
        for t, g in ev.groupby("event_type")
    )
    out = [(r["event_type"], r["n_exact"], r["est_within_5pct"])
           for r in _fn("hll_sketch_union_bracket")(spark, sf_dir)
           .collect()]
    assert out == want


def test_sql_table_udf_tiers_matches_pandas(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderpriority", "o_totalprice"])
    agg = defaultdict(lambda: [0, 0])
    for r in o.itertuples(index=False):
        c = math.floor(r.o_totalprice * 100 + 0.5)
        for part, amt in (("base", c), ("fee", c // 50),
                          ("rebate", -(c // 200))):
            a = agg[(r.o_orderpriority, part)]
            a[0] += 1
            a[1] += amt
    want = sorted((k[0], k[1], v[0], v[1]) for k, v in agg.items())
    out = [(r["pri"], r["part"], r["n_rows"], r["total_amount"])
           for r in _fn("sql_table_udf_tiers")(spark, sf_dir).collect()]
    assert out == want


def test_neardup_split_leakage_matches_python(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text", "n_chars"])
    grams = {}
    for r in docs.itertuples(index=False):
        t = [x for x in re.split(r"\s+", r.text.strip().lower()) if x]
        grams[int(r.doc_id)] = {
            " ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))
        }

    def split_of(d):
        b = _h60(str(d)) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    ids = sorted(grams)
    leaks = defaultdict(list)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ga, gb = grams[a], grams[b]
            if len(ga & gb) / len(ga | gb) >= 0.8:
                sa, sb = split_of(a), split_of(b)
                if sa != sb:
                    leaks[(min(sa, sb), max(sa, sb))].append((a, b))
    want = sorted(
        (lo, hi, len(ps), min(ps)[0], min(ps)[1])
        for (lo, hi), ps in leaks.items()
    )
    out = [(r["split_lo"], r["split_hi"], r["n_leaks"], r["example_a"],
            r["example_b"])
           for r in _fn("neardup_split_leakage")(spark, sf_dir).collect()]
    assert out == want
    assert out, "no straddling near-dup pairs at this SF — vacuous"


def test_width_bucket_histogram_matches_python(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_totalprice"])
    agg = defaultdict(lambda: [0, None, None])
    for x in o.o_totalprice:
        c = math.floor(x * 100 + 0.5)
        b = (0 if c < 5_000_000 else
             11 if c >= 35_000_000 else (c - 5_000_000) // 3_000_000 + 1)
        a = agg[b]
        a[0] += 1
        a[1] = c if a[1] is None else min(a[1], c)
        a[2] = c if a[2] is None else max(a[2], c)
    want = sorted((b, *v) for b, v in agg.items())
    out = [(r["bucket"], r["n_orders"], r["min_cents"], r["max_cents"])
           for r in _fn("width_bucket_histogram")(spark, sf_dir).collect()]
    assert out == want
    # under/overflow buckets must both be populated (the semantics pinned)
    buckets = {r[0] for r in out}
    assert 0 in buckets and 11 in buckets
