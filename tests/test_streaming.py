"""Structured Streaming facade test: the tumbling aggregate produces the same
result on a real stream (file source, availableNow trigger) as in batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gan_deeplearning4j_spark.io import load_events
from gan_deeplearning4j_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    tumbling_agg,
)


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # re-materialize at µs precision (streaming parquet source can't read the
    # driver's TIMESTAMP_NANOS files), in a few files to get multiple triggers
    src = str(tmp_path / "events_stream")
    ev.repartition(4).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    assert stream.isStreaming
    agg = tumbling_agg(stream, "1 hour", watermark="10 hours")
    run_stream_to_memory(agg, "tumbling_test", timeout_sec=120)

    got = spark.sql("select * from tumbling_test").toPandas()
    want = tumbling_agg(ev, "1 hour").toPandas()

    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s["n"].to_numpy() == want_s["n"].to_numpy()).all()
    assert abs(got_s["sum_value"].to_numpy() - want_s["sum_value"].to_numpy()).max() < 1e-6


def test_stateful_running_totals_match_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals: the latest emission per user
    (max emit_seq) must equal the batch groupBy aggregate."""
    from gan_deeplearning4j_spark.streaming.stateful import running_user_totals

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "events_state")
    ev.repartition(4).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    out = running_user_totals(stream)
    run_stream_to_memory(out, "running_totals_test", timeout_sec=120,
                         output_mode="update")

    got = spark.sql(
        """select user_id, n_events, sum_value from (
             select *, row_number() over (partition by user_id
                                          order by emit_seq desc) rn
             from running_totals_test) where rn = 1"""
    ).toPandas().sort_values("user_id").reset_index(drop=True)
    want = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert abs(got["sum_value"].to_numpy() - want["sum_value"].to_numpy()).max() < 1e-6


def test_stateful_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """Gap-sessionization with explicit GroupState: closed sessions emitted by
    the stream must be exactly the batch sessionize result minus each user's
    final (still-open) session."""
    from gan_deeplearning4j_spark.streaming.stateful import stateful_sessionize

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # cross-batch per-key order: sort by ts and write range-partitioned files
    src = str(tmp_path / "events_sess")
    (ev.repartitionByRange(4, "ts").sortWithinPartitions("ts")
       .write.parquet(src))
    # FileStreamSource orders micro-batches by file mtime; the four part
    # files land within the same millisecond, so pin ascending mtimes to make
    # "per-key ordered ingest" (the operator's contract) actually hold
    import glob as _glob
    import os as _os
    import time as _time
    base = _time.time()
    for i, f in enumerate(sorted(_glob.glob(src + "/part-*"))):
        _os.utime(f, (base + 10 * i, base + 10 * i))

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    out = stateful_sessionize(stream, gap_seconds=1800)
    run_stream_to_memory(out, "sessionize_test", timeout_sec=120,
                         output_mode="append")
    got = spark.sql(
        "select user_id, session_start, n_events from sessionize_test"
    ).toPandas()

    # batch truth: same gap rule via lag + running sum
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (F.col("ts").cast("double") - prev.cast("double") > 1800), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_seq", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
    )
    want = sess.toPandas()
    # drop each user's last (still-open) session — the stream keeps it in state
    last_seq = want.groupby("user_id")["session_seq"].transform("max")
    want_closed = want[want["session_seq"] != last_seq]

    gk = {(r.user_id, r.session_start, r.n_events) for r in got.itertuples()}
    wk = {(r.user_id, r.session_start, r.n_events)
          for r in want_closed.itertuples()}
    assert gk == wk, (sorted(gk - wk)[:5], sorted(wk - gk)[:5])


def test_streaming_fit_learns_incrementally(spark, tmp_path):
    """foreachBatch training facade: one parameter-averaging round per
    micro-batch over a file stream reduces loss on a separable toy task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from gan_deeplearning4j_spark.kernels import init_weights
    from gan_deeplearning4j_spark.pipeline import Network, build_mlp
    from gan_deeplearning4j_spark.streaming.train import streaming_fit

    rng = np.random.default_rng(666)
    y = rng.integers(0, 2, 600)
    centers = rng.uniform(0.2, 0.8, (2, 8))
    x = (centers[y] + rng.normal(0, 0.05, (600, 8))).clip(0, 1).astype(np.float32)
    yv = y.reshape(-1, 1).astype(np.float32)

    schema = T.StructType([
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("label_vec", T.ArrayType(T.FloatType())),
    ])
    pdf = pd.DataFrame({"features": list(x), "label_vec": list(yv)})
    src = str(tmp_path / "train_stream")
    # several files → several micro-batches → several averaging rounds
    spark.createDataFrame(pdf, schema).repartition(6).write.parquet(src)

    specs = build_mlp("clf", 8, [16], 1, "sigmoid")
    net = Network(specs, init_weights(specs, 8, 666), {s.name: 0.05 for s in specs})
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hist = streaming_fit(stream, net, n_workers=2, local_steps=5, batch_size=64)
    assert len(hist) >= 4, hist
    losses = [l for _, l in hist]
    assert losses[-1] < losses[0], losses


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """The purchase->click interval join emits the same pairs on a real
    stream (watermarked stream-stream join, availableNow) as in batch."""
    from gan_deeplearning4j_spark.streaming.joins import (
        purchase_click_attribution,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "events_ssj")
    ev.repartition(4).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    out = purchase_click_attribution(stream, watermark="100 hours")
    run_stream_to_memory(out, "ssj_test", timeout_sec=180,
                         output_mode="append")

    got = spark.sql("select * from ssj_test").toPandas()
    want = purchase_click_attribution(ev).toPandas()

    key = ["purchase_id", "click_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s) and len(want_s) > 0
    assert (got_s["user_id"].to_numpy() == want_s["user_id"].to_numpy()).all()


def test_streaming_dedup_matches_batch_key_set(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark emits exactly one row per content key
    when all rows arrive inside the watermark — the surviving key set must
    equal batch dropDuplicates."""
    from gan_deeplearning4j_spark.streaming.dedup import dedup_events_stream

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "events_dedup")
    ev.repartition(4).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    out = dedup_events_stream(stream, watermark="100 hours")
    run_stream_to_memory(out, "sdedup_test", timeout_sec=180,
                         output_mode="append")

    got = spark.sql(
        "select user_id, event_type, value from sdedup_test"
    ).toPandas()
    want = dedup_events_stream(ev).select(
        "user_id", "event_type", "value"
    ).toPandas()

    key = lambda df: set(map(tuple, df.to_numpy().tolist()))  # noqa: E731
    assert len(got) == len(want)
    assert key(got) == key(want)


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """Session windows: streaming (availableNow, watermarked) must emit the
    same sessions as the batch form once every file is processed."""
    from gan_deeplearning4j_spark.streaming.windows import session_agg

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "events_sessions")
    ev.repartition(4).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    agg = session_agg(stream, "30 minutes", watermark="10 hours")
    run_stream_to_memory(agg, "session_test", timeout_sec=120)

    got = spark.sql("select * from session_test").toPandas()
    want = session_agg(ev, "30 minutes").toPandas()

    key = ["user_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s["n_events"].to_numpy() == want_s["n_events"].to_numpy()).all()
    assert (got_s["session_end"].to_numpy() == want_s["session_end"].to_numpy()).all()
    assert (
        abs(got_s["sum_value"].to_numpy() - want_s["sum_value"].to_numpy()).max()
        < 1e-6
    )


def test_streaming_neardup_matches_batch_replay(spark, sf_dir, tmp_path):
    """Streaming MinHash/LSH near-dup flags must equal a batch replay of the
    same bucket logic in global (ts, doc_id) arrival order. Exact duplicate
    documents (identical signatures in every band) MUST be flagged; the
    keeper is the earliest arrival."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gan_deeplearning4j_spark.streaming.dedup import (
        banded_signatures,
        neardup_flags_stream,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id", "text",
            F.timestamp_micros(F.lit(1_700_000_000_000_000)
                               + F.col("doc_id") * 1_000_000).alias("ts"),
        )
    )
    # 2 micro-batches in arrival order: files split by doc_id range with
    # pinned mtimes (FileStreamSource orders files by mtime)
    src = str(tmp_path / "docs_stream")
    os.makedirs(src)
    lo = docs.filter(F.col("doc_id") < 250).coalesce(1)
    hi = docs.filter(F.col("doc_id") >= 250).coalesce(1)
    lo.write.parquet(src + "/lo")
    hi.write.parquet(src + "/hi")
    files = []
    for sub in ("lo", "hi"):
        for f in sorted(os.listdir(f"{src}/{sub}")):
            if f.endswith(".parquet"):
                dst = f"{src}/{sub.replace('lo','0').replace('hi','1')}_{f}"
                os.rename(f"{src}/{sub}/{f}", dst)
                files.append(dst)
    for i, f in enumerate(files):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    flags = neardup_flags_stream(stream, num_hashes=16, bands=4,
                                 threshold=0.8)
    run_stream_to_memory(flags, "neardup_stream_test", timeout_sec=180,
                         output_mode="append")
    got = spark.sql(
        "select doc_id, min(dup_of) as dup_of from neardup_stream_test "
        "group by doc_id"
    ).collect()
    got_flags = {r["doc_id"]: r["dup_of"] for r in got}

    # batch replay: same buckets, same threshold, global (ts, doc_id) order
    banded = banded_signatures(docs, num_hashes=16, bands=4).collect()
    buckets = {}
    for r in sorted(banded, key=lambda r: (r["ts"], r["doc_id"])):
        buckets.setdefault((r["__band"], r["__bh"]), []).append(r)
    want = {}
    for key, rows in buckets.items():
        kept = []
        for r in rows:
            sig = tuple(r["__sig"])
            dup_of = None
            for kid, ksig in kept:
                eq = sum(a == b for a, b in zip(sig, ksig)) / len(sig)
                if eq >= 0.8:
                    dup_of = kid
                    break
            if dup_of is not None:
                cur = want.get(r["doc_id"])
                want[r["doc_id"]] = dup_of if cur is None else min(cur, dup_of)
            else:
                kept.append((r["doc_id"], sig))
    assert got_flags == want
    # sanity: the corpus's exact duplicate texts are flagged
    dup_losers = {
        r["l"] for r in docs.alias("a").join(
            docs.alias("b"),
            (F.col("a.text") == F.col("b.text"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("l")).distinct().collect()
    }
    assert dup_losers <= set(got_flags), dup_losers - set(got_flags)


def test_streaming_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a checkpointed stream must process only NEW files — the
    file-source offset log gives exactly-once over a restart, which is what
    makes an incremental 100 TB ingestion pipeline re-runnable."""
    import os

    from pyspark.sql import functions as F

    ev = load_events(spark, sf_dir).select("event_id", "ts", "value")
    src = str(tmp_path / "events_ckpt_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    first = ev.filter(F.col("event_id") < 500).coalesce(1)
    first.write.mode("append").parquet(src)

    def run_pass():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 10)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        sunk = spark.read.parquet(out).select("event_id").collect()
        ids = [r["event_id"] for r in sunk]
        return ids

    ids1 = run_pass()
    want1 = {r["event_id"] for r in first.select("event_id").collect()}
    assert set(ids1) == want1 and len(ids1) == len(want1)

    # add new data, restart from the SAME checkpoint: the sink gains exactly
    # the delta — nothing reprocessed, nothing duplicated
    second = ev.filter(
        (F.col("event_id") >= 500) & (F.col("event_id") < 900)
    ).coalesce(1)
    second.write.mode("append").parquet(src)
    ids2 = run_pass()
    want2 = want1 | {r["event_id"] for r in second.select("event_id").collect()}
    assert set(ids2) == want2, (len(ids2), len(want2))
    assert len(ids2) == len(want2)  # exactly-once: no duplicate rows


def test_stream_stream_outer_join_matches_batch(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream join: unmatched purchases may only emit
    after BOTH watermarks clear their join window. The sentinels must
    survive the purchase/click filters (a filtered-out row never reaches
    the watermark operator, so a 'noop' sentinel advances nothing): two
    far-future files each carrying a purchase+click pair at user_id=-1 —
    file one jumps the watermark, file two gives the join a data batch
    that runs WITH the jumped watermark and flushes the stragglers.
    Result must equal the batch left join exactly."""
    import datetime as _dt
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.streaming.joins import (
        purchase_click_attribution_outer,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "events_ssoj")
    ev.coalesce(1).write.parquet(src)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for i in (1, 2):
        t = max_ts + _dt.timedelta(days=30 * i)
        spark.createDataFrame(
            [(10**9 + 2 * i, t, -1, "purchase", 0.0, "{}"),
             (10**9 + 2 * i + 1, t, -1, "click", 0.0, "{}")],
            ev.schema,
        ).coalesce(1).write.mode("append").parquet(src)
    # FileStreamSource orders micro-batches by mtime: real data first, then
    # the sentinel files in sequence (pin explicitly — ms ties arbitrary)
    now = _time.time()
    small = sorted(
        f for f in _os.listdir(src)
        if f.endswith(".parquet")
        and _os.path.getsize(_os.path.join(src, f)) <= 10000
    )
    for f in _os.listdir(src):
        if f.endswith(".parquet") and f not in small:
            _os.utime(_os.path.join(src, f), (now, now))
    for j, f in enumerate(small):
        _os.utime(_os.path.join(src, f), (now, now + 3600 * (j + 1)))

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    out = purchase_click_attribution_outer(stream, watermark="30 minutes")
    run_stream_to_memory(out, "ssoj_test", timeout_sec=180,
                         output_mode="append")

    got = spark.sql(
        "select * from ssoj_test where user_id >= 0"
    ).toPandas()
    want = purchase_click_attribution_outer(ev).toPandas()

    key = ["purchase_id", "click_id"]
    got_s = got.sort_values(key, na_position="last").reset_index(drop=True)
    want_s = want.sort_values(key, na_position="last").reset_index(drop=True)
    assert len(got_s) == len(want_s) and len(want_s) > 0
    # the outer rows are present: some purchase has no attributable click
    assert want_s["click_id"].isna().any()
    assert got_s["click_id"].isna().sum() == want_s["click_id"].isna().sum()
    assert (got_s["user_id"].to_numpy() == want_s["user_id"].to_numpy()).all()


def test_streaming_ewma_equals_batch_fold(spark, sf_dir, tmp_path):
    """The GroupState EWMA must land on EXACTLY the batch array-fold result
    once the stream drains — same integer recurrence, carried across
    micro-batches. Source files are time-range splits with pinned mtimes so
    events arrive in order across batches (the operator's stated contract)."""
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.streaming.stateful import running_user_ewma

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "ts_nanos", "user_id", "event_type", "value",
        "props"
    )
    # EXACT integer time boundaries: approxQuantile returns floats, and an
    # int64-nanos column compared against a double literal shifts the split
    # (multiple nanos values collapse onto one double)
    ts_sorted = [r[0] for r in
                 ev.select("ts_nanos").orderBy("ts_nanos").collect()]
    b1 = ts_sorted[len(ts_sorted) // 3]
    b2 = ts_sorted[2 * len(ts_sorted) // 3]
    src = str(tmp_path / "events_ewma")
    bounds = [None, b1, b2, None]
    now = _time.time()
    seen: set = set()
    for i in range(3):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts_nanos") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts_nanos") <= F.lit(bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(src)
        # pin mtimes so micro-batch order == time order; touch ONLY the
        # files this iteration added (re-touching moves earlier parts too)
        for f in _os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                _os.utime(_os.path.join(src, f), (now, now + 600 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_user_ewma(stream)
    run_stream_to_memory(out, "ewma_stream", timeout_sec=180,
                         output_mode="update")
    got = spark.sql("""
        select user_id, n_events, ewma_c from (
          select *, row_number() over (partition by user_id
                                       order by emit_seq desc) rn
          from ewma_stream) where rn = 1
    """).toPandas().sort_values("user_id").reset_index(drop=True)

    want = (
        REGISTRY["ewma_user_value"].fn(spark, sf_dir).toPandas()
        .sort_values("user_id").reset_index(drop=True)
    )
    assert (got["user_id"].to_numpy() == want["user_id"].to_numpy()).all()
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (got["ewma_c"].to_numpy() == want["ewma_c"].to_numpy()).all()


def test_streaming_cdc_apply_matches_batch_merge(spark, tmp_path):
    """foreachBatch CDC apply: the materialized table after streaming the
    change log equals last-wins-by-seq application of all changes (with
    deletes), and equals the same batches applied through the batch path."""
    import os
    import pandas as pd
    from gan_deeplearning4j_spark.streaming.cdc import (
        apply_cdc_batch,
        streaming_cdc_apply,
    )

    # deterministic change log: 3 batches, overlapping keys, deletes
    def batch_rows(b):
        rows = []
        for k in range(1 + 30 * b, 71 + 30 * b):      # overlapping key range
            seq = b * 1000 + k
            rows.append((k, f"s{b}_{k}", (k * 7 + b) % 97, seq,
                         (k + b) % 11 == 0))           # ~9% deletes
        return rows
    cols = "key long, payload string, qty long, seq long, deleted boolean"

    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    for b in range(3):
        f = os.path.join(src, f"batch_{b}.parquet")
        spark.createDataFrame(batch_rows(b), cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f)
        # pin mtime per batch dir content so FileStreamSource order is fixed
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (1000 + b, 1000 + b))

    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*.parquet")
    )
    snap = streaming_cdc_apply(
        stream, str(tmp_path / "cdc_state"), keys=["key"],
        seq_col="seq", delete_col="deleted",
    )
    got = (
        spark.read.parquet(snap).toPandas()
        .sort_values("key").reset_index(drop=True)
    )

    # expected: global last-wins by seq, dropping keys whose last change
    # is a delete
    allrows = pd.DataFrame(
        [r for b in range(3) for r in batch_rows(b)],
        columns=["key", "payload", "qty", "seq", "deleted"],
    )
    last = allrows.sort_values("seq").groupby("key").last().reset_index()
    want = (
        last[~last["deleted"]]
        .drop(columns=["seq", "deleted"])
        .sort_values("key")
        .reset_index(drop=True)
    )
    assert got[["key", "payload", "qty"]].equals(want)

    # batch path agrees with the streaming path
    state2 = str(tmp_path / "cdc_state_batch")
    for b in range(3):
        snap2 = apply_cdc_batch(
            spark, state2,
            spark.createDataFrame(batch_rows(b), cols),
            keys=["key"], seq_col="seq", delete_col="deleted",
        )
    got2 = (
        spark.read.parquet(snap2).toPandas()
        .sort_values("key").reset_index(drop=True)
    )
    assert got2[["key", "payload", "qty"]].equals(want)

    # idempotence: re-applying the final batch changes nothing (the
    # exactly-once-on-replay argument)
    snap3 = apply_cdc_batch(
        spark, state2,
        spark.createDataFrame(batch_rows(2), cols),
        keys=["key"], seq_col="seq", delete_col="deleted",
    )
    got3 = (
        spark.read.parquet(snap3).toPandas()
        .sort_values("key").reset_index(drop=True)
    )
    assert got3[["key", "payload", "qty"]].equals(want)


def test_streaming_cdc_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill the CDC stream after the first files, restart with the same
    checkpoint and more files: already-processed batches must not re-apply
    (no duplicate snapshots for them), and the final table equals the
    uninterrupted run — the exactly-once-through-restart contract."""
    import os
    from gan_deeplearning4j_spark.streaming.cdc import (
        _latest_snapshot,
        streaming_cdc_apply,
    )

    def rows(b):
        return [
            (k, f"p{b}_{k}", b * 1000 + k, False)
            for k in range(1 + 20 * b, 61 + 20 * b)
        ]
    cols = "key long, payload string, seq long, deleted boolean"

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_batch(b):
        f = os.path.join(src, f"b{b}.parquet")
        spark.createDataFrame(rows(b), cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f)
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (1000 + b, 1000 + b))

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: only batches 0 and 1 exist
    write_batch(0)
    write_batch(1)
    stream = (
        spark.readStream.schema(cols).option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*.parquet")
    )
    streaming_cdc_apply(stream, state, keys=["key"], seq_col="seq",
                        checkpoint_dir=ckpt)
    v1, _ = _latest_snapshot(state)

    # phase 2: restart the stream with the same checkpoint, one more batch
    write_batch(2)
    stream2 = (
        spark.readStream.schema(cols).option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*.parquet")
    )
    snap = streaming_cdc_apply(stream2, state, keys=["key"], seq_col="seq",
                               checkpoint_dir=ckpt)
    v2, _ = _latest_snapshot(state)
    # batches 0/1 were not replayed: exactly one new snapshot version
    assert v2 == v1 + 1

    got = (
        spark.read.parquet(snap).toPandas()
        .sort_values("key").reset_index(drop=True)
    )
    # equals the uninterrupted single-pass run over all three batches
    state_all = str(tmp_path / "state_all")
    stream3 = (
        spark.readStream.schema(cols).option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*.parquet")
    )
    snap_all = streaming_cdc_apply(stream3, state_all, keys=["key"],
                                   seq_col="seq")
    want = (
        spark.read.parquet(snap_all).toPandas()
        .sort_values("key").reset_index(drop=True)
    )
    assert got.equals(want)
    assert len(got) == 100  # keys 1..100 with last-wins payloads


def test_cdc_recovers_from_torn_snapshot(spark, tmp_path):
    """A snapshot directory without _SUCCESS (crash mid-write) must be
    invisible: the next batch applies on top of the last COMMITTED
    snapshot, and the torn version number is reused."""
    import os
    from gan_deeplearning4j_spark.streaming.cdc import (
        _latest_snapshot,
        apply_cdc_batch,
    )

    cols = "key long, payload string, seq long, deleted boolean"
    state = str(tmp_path / "state")
    apply_cdc_batch(
        spark, state,
        spark.createDataFrame([(1, "a", 1, False), (2, "b", 2, False)], cols),
        keys=["key"], seq_col="seq", delete_col="deleted",
    )
    v0, snap0 = _latest_snapshot(state)

    # simulate a crash: v1 exists on disk but never committed
    torn = os.path.join(state, f"v{v0 + 1}")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "wb") as fh:
        fh.write(b"garbage")
    assert _latest_snapshot(state) == (v0, snap0)  # torn version ignored

    snap = apply_cdc_batch(
        spark, state,
        spark.createDataFrame([(2, "b2", 3, False), (3, "c", 4, False)], cols),
        keys=["key"], seq_col="seq", delete_col="deleted",
    )
    got = {
        r["key"]: r["payload"] for r in spark.read.parquet(snap).collect()
    }
    assert got == {1: "a", 2: "b2", 3: "c"}


def test_cdc_null_delete_flag_is_not_a_delete(spark, tmp_path):
    """A NULL delete flag means 'not a delete' on EVERY batch, including
    the bootstrap one: the same change record is kept whether its key
    first appears in the first batch or a later one (coalesce(flag,
    False) semantics everywhere)."""
    from gan_deeplearning4j_spark.streaming.cdc import apply_cdc_batch

    cols = "key long, payload string, seq long, deleted boolean"

    # key 1: NULL flag in the BOOTSTRAP batch -> must be kept
    state_a = str(tmp_path / "state_a")
    snap_a = apply_cdc_batch(
        spark, state_a,
        spark.createDataFrame(
            [(1, "a", 1, None), (2, "b", 2, True)], cols
        ),
        keys=["key"], seq_col="seq", delete_col="deleted",
    )
    got_a = {
        r["key"]: r["payload"] for r in spark.read.parquet(snap_a).collect()
    }
    assert got_a == {1: "a"}  # NULL kept, True deleted

    # key 1: NULL flag in a LATER batch -> identically kept
    state_b = str(tmp_path / "state_b")
    apply_cdc_batch(
        spark, state_b,
        spark.createDataFrame([(9, "seed", 0, False)], cols),
        keys=["key"], seq_col="seq", delete_col="deleted",
    )
    snap_b = apply_cdc_batch(
        spark, state_b,
        spark.createDataFrame(
            [(1, "a", 1, None), (2, "b", 2, True)], cols
        ),
        keys=["key"], seq_col="seq", delete_col="deleted",
    )
    got_b = {
        r["key"]: r["payload"] for r in spark.read.parquet(snap_b).collect()
    }
    assert got_b == {1: "a", 9: "seed"}  # same keep/drop decision as_a


def test_streaming_cdc_timeout_raises_not_partial(spark, tmp_path):
    """If the availableNow pass cannot drain inside timeout_sec the
    function must raise TimeoutError, never return a partial snapshot as
    if the stream had drained."""
    import os
    import pytest
    from gan_deeplearning4j_spark.streaming.cdc import streaming_cdc_apply

    cols = "key long, payload string, seq long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # enough 1-file micro-batches (each a full merge + parquet write)
    # that a 1-second wait cannot possibly observe termination
    for b in range(10):
        spark.createDataFrame(
            [(k, f"p{b}", b * 100 + k) for k in range(50)], cols
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"batch_{b}.parquet")
        )
    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*.parquet")
    )
    with pytest.raises(TimeoutError, match="partial"):
        streaming_cdc_apply(
            stream, str(tmp_path / "state"), keys=["key"], seq_col="seq",
            timeout_sec=1,
        )


def test_streaming_balance_equals_batch_fold(spark, sf_dir, tmp_path):
    """The GroupState clamped balance must land EXACTLY on the batch fold
    (running_balance_clamped) once the stream drains — the non-linear
    recurrence carried across micro-batches. Same ordered file-replay
    harness as the EWMA twin."""
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.streaming.stateful import (
        running_user_balance,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "ts_nanos", "user_id", "event_type", "value",
        "props"
    )
    ts_sorted = [r[0] for r in
                 ev.select("ts_nanos").orderBy("ts_nanos").collect()]
    b1 = ts_sorted[len(ts_sorted) // 3]
    b2 = ts_sorted[2 * len(ts_sorted) // 3]
    src = str(tmp_path / "events_bal")
    bounds = [None, b1, b2, None]
    now = _time.time()
    seen: set = set()
    for i in range(3):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts_nanos") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts_nanos") <= F.lit(bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(src)
        for f in _os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                _os.utime(_os.path.join(src, f), (now, now + 600 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_user_balance(stream)
    run_stream_to_memory(out, "bal_stream", timeout_sec=180,
                         output_mode="update")
    got = spark.sql("""
        select user_id, n_events, balance_c from (
          select *, row_number() over (partition by user_id
                                       order by emit_seq desc) rn
          from bal_stream) where rn = 1
    """).toPandas().sort_values("user_id").reset_index(drop=True)

    want = (
        REGISTRY["running_balance_clamped"].fn(spark, sf_dir).toPandas()
        .sort_values("user_id").reset_index(drop=True)
    )
    assert (got["user_id"].to_numpy() == want["user_id"].to_numpy()).all()
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (got["balance_c"].to_numpy() == want["balance_c"].to_numpy()).all()


def test_streaming_debounce_matches_batch(spark, sf_dir, tmp_path):
    """Per-(user,type) streaming debounce counters over ordered
    micro-batches must equal the batch LAG computation (the registered
    debounce_suppressed_counts query) when rolled up per event type."""
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.streaming.stateful import (
        streaming_debounce_counts,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "ts_nanos", "user_id", "event_type", "value",
        "props"
    )
    ts_sorted = [r[0] for r in
                 ev.select("ts_nanos").orderBy("ts_nanos").collect()]
    b1 = ts_sorted[len(ts_sorted) // 3]
    b2 = ts_sorted[2 * len(ts_sorted) // 3]
    src = str(tmp_path / "events_debounce")
    bounds = [None, b1, b2, None]
    now = _time.time()
    seen: set = set()
    for i in range(3):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts_nanos") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts_nanos") <= F.lit(bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(src)
        for f in _os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                _os.utime(_os.path.join(src, f), (now, now + 600 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_debounce_counts(stream)
    run_stream_to_memory(out, "debounce_stream", timeout_sec=180,
                         output_mode="update")
    got = spark.sql("""
        select event_type,
               sum(n_events) as n_events,
               sum(n_kept) as n_kept,
               sum(n_suppressed) as n_suppressed
        from (
          select *, row_number() over (
            partition by user_id, event_type order by emit_seq desc) rn
          from debounce_stream) where rn = 1
        group by event_type order by event_type
    """).toPandas().reset_index(drop=True)

    want = (
        REGISTRY["debounce_suppressed_counts"].fn(spark, sf_dir).toPandas()
        .sort_values("event_type").reset_index(drop=True)
    )
    for col in ("n_events", "n_kept", "n_suppressed"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col
    assert list(got["event_type"]) == list(want["event_type"])


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment + tumbling rollup equals the
    identical batch computation (exact integer cents, so == not approx)."""
    from gan_deeplearning4j_spark.streaming.joins import (
        enriched_segment_windows,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    src = str(tmp_path / "events_enrich")
    ev.repartition(4).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    out = enriched_segment_windows(stream, cust, "1 hour")
    run_stream_to_memory(out, "enrich_test", timeout_sec=120)

    got = (
        spark.sql("select * from enrich_test").toPandas()
        .sort_values(["window_start", "segment"]).reset_index(drop=True)
    )
    want = (
        enriched_segment_windows(ev, cust, "1 hour").toPandas()
        .sort_values(["window_start", "segment"]).reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ["n_purchases", "revenue_cents"]:
        assert (got[col].to_numpy() == want[col].to_numpy()).all()
    assert (got["segment"].to_numpy() == want["segment"].to_numpy()).all()


def test_streaming_space_saving_matches_batch(spark, sf_dir, tmp_path):
    """Space-saving heavy hitters over ordered micro-batches: with m >=
    distinct items the sketch must equal exact batch counts bit-for-bit;
    with a small m the classic guarantees must hold against the exact
    counts (cnt-err <= true <= cnt; every item above n_bucket/m tracked)."""
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "ts_nanos", "user_id", "event_type"
    ).withColumn(
        "itm",
        F.concat_ws("_", "event_type", (F.col("user_id") % 7).cast("string")),
    )
    ts_sorted = [r[0] for r in
                 ev.select("ts_nanos").orderBy("ts_nanos").collect()]
    b1 = ts_sorted[len(ts_sorted) // 3]
    b2 = ts_sorted[2 * len(ts_sorted) // 3]
    src = str(tmp_path / "events_ss")
    bounds = [None, b1, b2, None]
    now = _time.time()
    seen: set = set()
    for i in range(3):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts_nanos") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts_nanos") <= F.lit(bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(src)
        for f in _os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                _os.utime(_os.path.join(src, f), (now, now + 600 * i))

    def final_rows(name):
        return spark.sql(f"""
            select bucket, item, cnt, err, n_seen from (
              select *, row_number() over (
                partition by bucket, item order by emit_seq desc) rn,
                max(emit_seq) over (partition by bucket) mseq
              from {name}) where rn = 1 and emit_seq = mseq
        """).toPandas()

    # exact regime: m far above the 35-item domain
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_heavy_hitters(stream, item_col="itm", m=64, buckets=2)
    run_stream_to_memory(out, "ss_exact", timeout_sec=180,
                         output_mode="update")
    got = final_rows("ss_exact").sort_values(["bucket", "item"])
    exact = (
        ev.groupBy(
            (F.expr("conv(substr(md5(itm), 1, 15), 16, 10)")
             .cast("long") % 2).alias("bucket"),
            F.col("itm").alias("item"),
        ).agg(F.count("*").alias("true_cnt")).toPandas()
    )
    merged = got.merge(exact, on=["bucket", "item"], how="outer")
    assert not merged["cnt"].isna().any()       # every item tracked
    assert not merged["true_cnt"].isna().any()  # nothing phantom
    assert (merged["cnt"] == merged["true_cnt"]).all()
    assert (merged["err"] == 0).all()

    # sketch regime: m=4 forces evictions; guarantees vs exact counts
    stream2 = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    out2 = streaming_heavy_hitters(stream2, item_col="itm", m=4, buckets=2)
    run_stream_to_memory(out2, "ss_sketch", timeout_sec=180,
                         output_mode="update")
    got2 = final_rows("ss_sketch")
    lookup = exact.set_index(["bucket", "item"])["true_cnt"]
    n_bucket = exact.groupby("bucket")["true_cnt"].sum()
    for _, r in got2.iterrows():
        true = int(lookup.get((r["bucket"], r["item"]), 0))
        assert int(r["cnt"]) - int(r["err"]) <= true <= int(r["cnt"]), (
            r["item"], true, r["cnt"], r["err"])
    tracked = {(r["bucket"], r["item"]) for _, r in got2.iterrows()}
    for (bkt, itm), true in lookup.items():
        if true > n_bucket[bkt] / 4:
            assert (bkt, itm) in tracked, (bkt, itm, true)


def test_streaming_weighted_sample_matches_batch(spark, sf_dir, tmp_path):
    """The GroupState A-ES sample after the last micro-batch must equal
    the batch weighted_sample_es window output exactly — min-k selection
    over deterministic keys is associative across any batch slicing."""
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.streaming.stateful import (
        streaming_weighted_sample,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    keys = sorted(r[0] for r in cust.select("c_custkey").collect())
    b1, b2 = keys[len(keys) // 3], keys[2 * len(keys) // 3]
    src = str(tmp_path / "cust_ws")
    bounds = [None, b1, b2, None]
    now = _time.time()
    seen: set = set()
    for i in range(3):
        part = cust
        if bounds[i] is not None:
            part = part.filter(F.col("c_custkey") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("c_custkey") <= F.lit(bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(src)
        for f in _os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                _os.utime(_os.path.join(src, f), (now, now + 600 * i))

    stream = (spark.readStream.schema(cust.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_weighted_sample(
        stream, "c_mktsegment", "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long") + 100001,
        k=5,
    )
    run_stream_to_memory(out, "ws_stream", timeout_sec=180,
                         output_mode="update")
    got = spark.sql("""
        select segment, rank, item_id, w, key_e12 from (
          select *, max(emit_seq) over (partition by segment) mseq
          from ws_stream) where emit_seq = mseq
        order by segment, rank
    """).toPandas()
    batch = (
        REGISTRY["weighted_sample_es"].fn(spark, sf_dir).toPandas()
        .sort_values(["c_mktsegment", "rank"]).reset_index(drop=True)
    )
    assert got["segment"].tolist() == batch["c_mktsegment"].tolist()
    assert got["rank"].tolist() == batch["rank"].tolist()
    assert got["item_id"].tolist() == batch["c_custkey"].tolist()
    assert got["w"].tolist() == batch["w"].tolist()
    assert got["key_e12"].tolist() == batch["key_e12"].tolist()


def test_streaming_token_bucket_equals_batch_fold(spark, sf_dir, tmp_path):
    """The GroupState token bucket must land EXACTLY on the batch replay
    (token_bucket_admissions, queries_r9) once the stream drains —
    admitted/denied counts and the remaining micro-token level are the
    same non-linear fold carried across micro-batches. Same ordered
    file-replay harness as the balance twin."""
    import os as _os
    import time as _time

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.streaming.stateful import (
        streaming_token_bucket,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "ts_nanos", "user_id", "event_type", "value",
        "props"
    )
    ts_sorted = [r[0] for r in
                 ev.select("ts_nanos").orderBy("ts_nanos").collect()]
    b1 = ts_sorted[len(ts_sorted) // 3]
    b2 = ts_sorted[2 * len(ts_sorted) // 3]
    src = str(tmp_path / "events_tb")
    bounds = [None, b1, b2, None]
    now = _time.time()
    seen: set = set()
    for i in range(3):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts_nanos") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts_nanos") <= F.lit(bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(src)
        for f in _os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                _os.utime(_os.path.join(src, f), (now, now + 600 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_token_bucket(stream)
    run_stream_to_memory(out, "tb_stream", timeout_sec=180,
                         output_mode="update")
    got = spark.sql("""
        select user_id, n_events, n_admitted, n_denied,
               tokens_left_micro from (
          select *, row_number() over (partition by user_id
                                       order by emit_seq desc) rn
          from tb_stream) where rn = 1
    """).toPandas().sort_values("user_id").reset_index(drop=True)

    want = (
        REGISTRY["token_bucket_admissions"].fn(spark, sf_dir).toPandas()
        .sort_values("user_id").reset_index(drop=True)
    )
    for col in ("user_id", "n_events", "n_admitted", "n_denied",
                "tokens_left_micro"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


def test_statestore_reader_exposes_groupstate(spark, sf_dir, tmp_path):
    """Spark 4 state-store data source: after an applyInPandasWithState
    query commits, format('state-metadata') must list the stateful
    operator and format('statestore') must decode the python GroupState
    struct — per-key (n, total) equal to the batch aggregate. This is
    the operational debugging surface for 100 TB streaming state (state
    inspection without replaying the stream)."""
    from gan_deeplearning4j_spark.streaming.stateful import (
        running_user_totals,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "ss_src")
    ckpt = str(tmp_path / "ss_ckpt")
    ev.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = running_user_totals(stream)
    q = (out.writeStream.format("memory").queryName("ss_reader_probe")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    q.awaitTermination(180)

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    assert meta[0]["operatorId"] == 0

    st = spark.read.format("statestore").load(ckpt)
    got = {
        r["key"]["user_id"]: (r["value"]["groupState"]["n"],
                              round(r["value"]["groupState"]["total"], 6))
        for r in st.collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_incremental_neardup_stream_equals_batch_resume(spark, sf_dir,
                                                        tmp_path):
    """The foreachBatch incremental near-dup stream (persisted signature
    store as state, delta-only signing per micro-batch) must reproduce the
    EXACT output of the batch ★minhash_incremental_resume query — same
    store split (doc_id % 5), same banding (shared banded_sig_keys), same
    verify threshold — regardless of how the new arrivals are chopped into
    micro-batches."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gan_deeplearning4j_spark.queries import REGISTRY
    from gan_deeplearning4j_spark.streaming.dedup import (
        incremental_neardup_stream,
        incremental_resume_summary,
        seed_signature_store,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    store_dir = str(tmp_path / "sig_store")
    pairs_dir = str(tmp_path / "pairs")
    seed_signature_store(old, store_dir)

    # 3 micro-batches of new arrivals in doc_id order, pinned mtimes
    src = str(tmp_path / "new_stream")
    os.makedirs(src)
    bounds = [(0, 150), (150, 300), (300, 10**9)]
    files = []
    for i, (lo, hi) in enumerate(bounds):
        part = new.filter((F.col("doc_id") >= lo)
                          & (F.col("doc_id") < hi)).coalesce(1)
        part.write.parquet(f"{src}/b{i}")
        for f in sorted(os.listdir(f"{src}/b{i}")):
            if f.endswith(".parquet"):
                dst = f"{src}/{i}_{f}"
                os.rename(f"{src}/b{i}/{f}", dst)
                files.append(dst)
    for i, f in enumerate(files):
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    incremental_neardup_stream(
        stream, docs, store_dir, pairs_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    got = sorted(
        tuple(r) for r in
        incremental_resume_summary(spark, pairs_dir).collect()
    )
    want = sorted(
        tuple(r) for r in REGISTRY["minhash_incremental_resume"].fn(
            spark, sf_dir).collect()
    )
    assert got == want and got, "stream != batch resume (or vacuous)"
    # the store accumulated exactly the new signatures on top of the seed
    store = spark.read.parquet(store_dir)
    assert store.filter("is_new").count() == new.count()
    assert store.count() == docs.count()

    # Fresh-checkpoint guard (r11 advice): a reprocess with a NEW
    # checkpoint over already-populated dirs fails loudly by default —
    # batch 0 sees store/pairs partitions beyond its id and cannot know
    # the new chopping matches the old one.
    import pytest

    stream_guard = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(Exception, match="FRESH checkpoint"):
        incremental_neardup_stream(
            stream_guard, docs, store_dir, pairs_dir,
            checkpoint_dir=str(tmp_path / "ckpt_guard"),
        )
    # the guard fired before any write: dirs unchanged
    assert spark.read.parquet(store_dir).count() == docs.count()

    # REPLAY idempotency (foreachBatch is at-least-once): a full second
    # pass re-processing every batch with IDENTICAL chopping against the
    # already-populated store (allow_fresh_reprocess, the one legitimate
    # use); the batch_id-keyed OVERWRITE partitions + versioned store
    # read must leave pairs, store, and summary byte-identical instead
    # of appending duplicates that would inflate every dup count.
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    incremental_neardup_stream(
        stream2, docs, store_dir, pairs_dir,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        allow_fresh_reprocess=True,
    )
    again = sorted(
        tuple(r) for r in
        incremental_resume_summary(spark, pairs_dir).collect()
    )
    assert again == want
    assert spark.read.parquet(store_dir).count() == docs.count()
