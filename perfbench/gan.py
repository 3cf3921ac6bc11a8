"""The paper's workload: adversarial training with synchronous parameter
averaging, then the observer half that scores held-out digits to CSV and
renders the generator grid."""

from __future__ import annotations

import glob
import os
import time

import numpy as np

import harness
import inputs
from checks import (accuracy_by_label, check_accuracy, check_frozen, check_png,
                    check_predictions, check_replay, check_step_bound)

BASE_FILTERS = 4   # dis round exchanges ~102k parameters per worker
BATCH_ROWS = 50    # rows per dis batch (gan batch is twice that)
AVG_FREQ = 10      # averagingFrequency = local steps per round
N_TRAIN = 2000
N_TEST = 1000
GRID_SIDE = 10


def _copy(weights: dict) -> dict:
    return {layer: {p: a.copy() for p, a in params.items()} for layer, params in weights.items()}


def _snapshot(g) -> dict:
    nets = {"dis": g.dis, "gen": g.gen, "gan": g.gan}
    if g.cv is not None:
        nets["cv"] = g.cv
    return {name: _copy(net.weights) for name, net in nets.items()}


def _instrument(bench, g, P, K) -> None:
    """Traced runs: spans around the pipeline's public functions, and a job
    group per averaging round so its stages can be told apart."""
    tr = bench.tracer
    names = {id(g.dis): "dis", id(g.gan): "gan"}
    orig_fit = P.fit_distributed

    def fit_distributed(df, net, *args, **kwargs):
        label = names.get(id(net), "cv")
        with tr.span(f"pipeline.fit_distributed:{label}"), bench.sub_group(f"round:{label}"):
            return orig_fit(df, net, *args, **kwargs)

    def note_rows(rec, args, kwargs):
        rec["rows"] = len(args[0])

    tr.patch(P, "fit_distributed", fit_distributed)
    tr.wrap(P, "rows_to_weights", "pipeline.rows_to_weights", note_rows)
    tr.wrap(P, "copy_weights_dict", "pipeline.copy_weights_dict")
    tr.wrap(P, "forward", "kernels.forward")
    tr.wrap(P.GanPipeline, "fit", "pipeline.GanPipeline.fit")
    tr.wrap(P.GanPipeline, "predict", "pipeline.GanPipeline.predict")
    tr.wrap(P.GanPipeline, "write_png_grid", "pipeline.GanPipeline.write_png_grid")
    tr.wrap(P.GanPipeline, "generate_grid", "pipeline.GanPipeline.generate_grid")
    tr.wrap(K, "apply_network", "kernels.apply_network")


def _round_metrics(bench) -> dict:
    """Per-layer numbers of the averaging rounds, from traced samples: each
    value is a sum over the three rounds of an epoch, median over epochs."""
    per_epoch = []
    for s in bench.traced_samples.get("epoch", []):
        row = {"fit_tasks": 0, "fit_stage_s": 0.0, "exchange_mb": 0.0}
        for label, reads in s["sub"].items():
            for stages in reads:
                fit = [x for x in stages if x["shuffle_read_rec"] > 0 and x["shuffle_write_b"] > 0]
                if fit:
                    top = max(fit, key=lambda x: x["run_ms"])
                    row["fit_tasks"] += top["tasks"]
                    row["fit_stage_s"] += top["wall_ms"] / 1e3
                    row["exchange_mb"] += top["shuffle_write_b"] / harness.MB
        row["exchange_rows"] = sum(n.get("number of output rows", 0) for n in s["python"]
                                   if n["node"].startswith("FlatMapGroupsInPandas"))
        per_epoch.append(row)
    return {k: harness.median(r[k] for r in per_epoch) for k in
            ("fit_tasks", "fit_stage_s", "exchange_mb", "exchange_rows")}


def _span_medians(bench, windows, names: dict[str, str]) -> dict:
    """Median over traced passes (``windows`` of span indexes) of each span
    name's total time per pass."""
    spans = bench.tracer.spans
    return {key: harness.median(
                sum(s["end"] - s["start"] for s in spans[lo:hi] if s["name"] == name)
                for lo, hi in windows)
            for key, name in names.items()}


def _span_attr_median(bench, windows, name, attr) -> float:
    spans = bench.tracer.spans
    return harness.median(sum(s.get(attr, 0) for s in spans[lo:hi] if s["name"] == name)
                          for lo, hi in windows)


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

def gan(bench, ctx, passes: int) -> dict:
    """One pass = one adversarial epoch (dis, gan and classifier averaging
    rounds), then the observer half: score the held-out CSV and write the
    probabilities as CSV, per-label accuracy from that CSV, and the
    generator grid as PNG."""
    csv_path = os.path.join(ctx.work, "test.csv")
    pred_dir = os.path.join(ctx.work, "pred")
    png_path = os.path.join(ctx.work, "grid.png")

    feats, labels = inputs.make_digits(ctx.seed, N_TRAIN)
    tfeats, tlabels = inputs.make_digits(ctx.seed + 1_000_003, N_TEST)
    inputs.write_digits_csv(csv_path, tfeats, tlabels)
    ctx.record_digest("train_digits", feats, labels)
    ctx.info.setdefault("digests", {})["test_csv"] = inputs.digest_files([csv_path])
    spark = ctx.start_spark()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gan_deeplearning4j_spark import io as gio
    from gan_deeplearning4j_spark import kernels as K
    from gan_deeplearning4j_spark import pipeline as P
    from gan_deeplearning4j_spark.functions.vector import argmax_index

    # model seed is the reference's; only the data depends on --seed
    g = P.GanPipeline.dcgan(base_filters=BASE_FILTERS)
    n = ctx.cpus
    real = feats.astype(np.float32)
    n_cls = g.n_classes
    pred_schema = T.StructType([T.StructField("label", T.IntegerType())] + [
        T.StructField(f"p{i}", T.FloatType()) for i in range(n_cls)])
    state = {}

    def epoch():
        g.fit(spark, real, labels, epochs=1, batch_rows=BATCH_ROWS, n_workers=n,
              avg_freq=AVG_FREQ)

    def score():
        df = gio.read_mnist_csv(spark, csv_path)
        out = g.predict(df).select(
            "label", *[F.col("output")[i].alias(f"p{i}") for i in range(n_cls)])
        gio.write_headerless_csv(out, pred_dir)

    def accuracy():
        pred = gio.read_headerless_csv(spark, pred_dir, pred_schema)
        hit = argmax_index(F.array(*[f"p{i}" for i in range(n_cls)])) == F.col("label")
        rows = (pred.groupBy("label")
                .agg(F.count("*").alias("n"), F.sum(hit.cast("long")).alias("n_correct"))
                .collect())
        state["accuracy"] = {int(r["label"]): (int(r["n"]), int(r["n_correct"])) for r in rows}

    def grid():
        g.write_png_grid(spark, png_path, side=GRID_SIDE)

    # warm-up: the first epoch also builds the classifier the observer scores with
    ops = [("epoch", epoch), ("score", score), ("accuracy", accuracy), ("grid", grid)]
    for name, fn in ops:
        ok, _ = bench.run_op(name, fn, warmup=True)
        if not ok and name == "epoch":
            raise RuntimeError("warm-up epoch failed:\n" + bench.errors[-1])
    snaps = [_snapshot(g)]
    losses = []

    def after_pass():
        snaps.append(_snapshot(g))
        losses.append(dict(g.history[-1]))

    ctx.mark_setup_done()

    def instrument():
        _instrument(bench, g, P, K)
        bench.tracer.wrap(gio, "read_mnist_csv", "io.read_mnist_csv")
        bench.tracer.wrap(gio, "read_headerless_csv", "io.read_headerless_csv")
        bench.tracer.wrap(gio, "write_headerless_csv", "io.write_headerless_csv")
        marks.append(len(bench.tracer.spans))

    marks: list[int] = []
    bench.measure(ops, passes, instrument, after_pass,
                  on_traced_pass=lambda: marks.append(len(bench.tracer.spans)))
    ctx.mark_pass_done()

    # -- checks, after the timed passes -------------------------------------
    errs = []
    lr = {name: dict(net.lr_by_layer) for name, net in
          (("dis", g.dis), ("gan", g.gan), ("cv", g.cv))}
    # gen learns through the gan net's gen layers
    lr["gen"] = {k: v for k, v in lr["gan"].items() if k.startswith("gen_")}
    for before, after in zip(snaps, snaps[1:]):
        errs += check_frozen(after)
        errs += check_step_bound(before, after, {k: lr[k] for k in ("dis", "gen", "cv")},
                                 AVG_FREQ)
    errs += _replay_check(spark, g, feats, n, P)
    ctx.info["losses"] = losses

    part_files = sorted(glob.glob(os.path.join(pred_dir, "part-*")))
    table = np.concatenate([np.loadtxt(f, delimiter=",", ndmin=2) for f in part_files
                            if os.path.getsize(f) > 0])
    csv_labels, csv_probs = table[:, 0], table[:, 1:]
    driver = K.forward(tfeats.astype(np.float32), g.cv.specs, g.cv.weights)
    errs += check_predictions(csv_labels, csv_probs, tlabels, driver)
    errs += check_accuracy(state.get("accuracy", {}), csv_labels, csv_probs)
    with open(png_path, "rb") as fh:
        errs += check_png(fh.read(), GRID_SIDE, inputs.SIDE)
    ctx.info["accuracy"] = {str(k): v for k, v in accuracy_by_label(tlabels, driver).items()}

    if bench.trace:
        rm = _round_metrics(bench)
        windows = list(zip(marks[0::2], marks[1::2]))
        bench.layer.update(_span_medians(bench, windows, {
            "pipeline.round_s.dis": "pipeline.fit_distributed:dis",
            "pipeline.round_s.gan": "pipeline.fit_distributed:gan",
            "pipeline.round_s.cv": "pipeline.fit_distributed:cv",
            "pipeline.unpack_s": "pipeline.rows_to_weights",
        }))
        bench.layer["pipeline.collect_rows"] = _span_attr_median(
            bench, windows, "pipeline.rows_to_weights", "rows")
        bench.layer["pipeline.fit_tasks"] = rm["fit_tasks"]
        bench.layer["pipeline.fit_stage_s"] = rm["fit_stage_s"]
        bench.layer["pipeline.exchange_rows"] = rm["exchange_rows"]
        bench.layer["pipeline.exchange_mb"] = rm["exchange_mb"]
        bench.layer["kernels.step_s"] = _time_step(g, real, n, P)
        bench.layer["kernels.forward_s"] = _time_forward(g, tfeats, K)
        score_s = harness.median(s["wall"] for s in bench.samples["score"])
        bench.layer["pipeline.predict_rows_per_s"] = N_TEST / score_s
        bench.layer.update(_io_probes(spark, gio, csv_path, pred_dir, pred_schema))
    return {"errors": errs}


def _time_step(g, real, n_workers, P) -> float:
    """One net_grads + rmsprop_update of the dis net on one worker's share
    of the dis round's real + fake rows, median of five, in the driver."""
    rows = min(BATCH_ROWS, 2 * BATCH_ROWS // n_workers)
    x = real[:rows]
    y = np.ones((rows, 1), dtype=np.float32)
    times = []
    for _ in range(5):
        w = _copy(g.dis.weights)
        t = time.perf_counter()
        grads, _ = P.net_grads(x, y, g.dis.specs, w)
        P.rmsprop_update(w, grads, {}, g.dis.lr_by_layer)
        times.append(time.perf_counter() - t)
    return harness.median(times)


def _replay_check(spark, g, feats, n_workers, P) -> list[str]:
    """A round over one repeated row against a driver-side replay of the
    same local steps. With three batches' worth of rows per worker, every
    worker's shard holds at least a full batch, so every worker runs the
    replay's exact computation (a batch of BATCH_ROWS copies of the row) and
    the mean of their identical weights is the replay's weights."""
    import pandas as pd
    from pyspark.sql import types as T

    x0 = np.repeat(feats[:1].astype(np.float32), BATCH_ROWS, axis=0)
    y0 = np.ones((BATCH_ROWS, 1), dtype=np.float32)
    rows = 3 * BATCH_ROWS * n_workers
    pdf = pd.DataFrame({"features": [x0[0]] * rows, "label_vec": [y0[0]] * rows})
    schema = T.StructType([T.StructField("features", T.ArrayType(T.FloatType())),
                           T.StructField("label_vec", T.ArrayType(T.FloatType()))])
    net = P.Network(g.dis.specs, _copy(g.dis.weights), dict(g.dis.lr_by_layer))
    replay = _copy(g.dis.weights)
    P.fit_distributed(spark.createDataFrame(pdf, schema), net, n_workers, AVG_FREQ, BATCH_ROWS)
    cache: dict = {}
    for _ in range(AVG_FREQ):
        grads, _ = P.net_grads(x0, y0, g.dis.specs, replay)
        P.rmsprop_update(replay, grads, cache, g.dis.lr_by_layer)
    return check_replay(net.weights, replay)


def _time_forward(g, tfeats, K) -> float:
    """One inference batch (the whole held-out split) through the
    classifier in the driver, median of five."""
    x = tfeats.astype(np.float32)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        K.forward(x, g.cv.specs, g.cv.weights)
        times.append(time.perf_counter() - t)
    return harness.median(times)


def _io_probes(spark, gio, csv_path, pred_dir, pred_schema) -> dict:
    """The io layer alone: a noop-sink scan of the digits CSV, and a CSV
    write of the already-scored predictions (read, then written elsewhere)."""
    out_dir = os.path.join(os.path.dirname(pred_dir), "probe_write")
    reads, writes = [], []
    for _ in range(3):
        t = time.perf_counter()
        gio.read_mnist_csv(spark, csv_path).write.format("noop").mode("overwrite").save()
        reads.append(time.perf_counter() - t)
        cached = gio.read_headerless_csv(spark, pred_dir, pred_schema).localCheckpoint(eager=True)
        t = time.perf_counter()
        gio.write_headerless_csv(cached, out_dir)
        writes.append(time.perf_counter() - t)
    return {"io.csv_read_s": harness.median(reads), "io.csv_write_s": harness.median(writes)}
