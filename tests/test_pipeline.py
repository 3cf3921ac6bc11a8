"""E2E pipeline test (SURVEY §5.2): deterministic 2-epoch adversarial loop on
a small fixture, mirroring numIterations=2 / seed=666 (java:72,75)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from gan_deeplearning4j_spark.pipeline import (
    GanPipeline,
    Network,
    build_mlp,
    fit_distributed,
    net_grads,
    rmsprop_update,
)
from gan_deeplearning4j_spark.kernels import forward, init_weights


def _toy_data(n=400, dim=16, n_classes=4, seed=666):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, n_classes, n)
    centers = rng.uniform(0.2, 0.8, (n_classes, dim))
    x = (centers[y] + rng.normal(0, 0.05, (n, dim))).clip(0, 1).astype(np.float32)
    return x, y


def _weights_digest(weights) -> str:
    h = hashlib.sha256()
    for layer in sorted(weights):
        for param in sorted(weights[layer]):
            arr = np.ascontiguousarray(weights[layer][param])
            h.update(f"{layer}|{param}|{arr.shape}|{arr.dtype};".encode())
            h.update(arr.tobytes())
    return h.hexdigest()


def _xy_df(spark, x, y):
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("features", T.ArrayType(T.FloatType())),
            T.StructField("label_vec", T.ArrayType(T.FloatType())),
        ]
    )
    pdf = pd.DataFrame({"features": list(x), "label_vec": list(y)})
    return spark.createDataFrame(pdf, schema)


def test_mlp_grads_match_numeric():
    """Backprop vs central finite differences on a tiny net."""
    specs = build_mlp("t", 5, [4], 1, "sigmoid")
    w = init_weights(specs, 5, seed=666)
    rng = np.random.default_rng(0)
    x = rng.standard_normal((8, 5)).astype(np.float64)
    y = rng.integers(0, 2, (8, 1)).astype(np.float64)

    grads, _ = net_grads(x, y, specs, w)

    def loss_at(wmod):
        p = forward(x.astype(np.float32), specs, wmod)
        eps = 1e-7
        return float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean())

    eps = 1e-4
    for layer in ["t_dense_0", "t_output"]:
        W = w[layer]["W"]
        for idx in [(0, 0), (1, 2) if W.shape[1] > 2 else (1, 0)]:
            w_plus = {l: {p: a.copy() for p, a in ps.items()} for l, ps in w.items()}
            w_minus = {l: {p: a.copy() for p, a in ps.items()} for l, ps in w.items()}
            w_plus[layer]["W"][idx] += eps
            w_minus[layer]["W"][idx] -= eps
            num = (loss_at(w_plus) - loss_at(w_minus)) / (2 * eps)
            assert abs(num - grads[layer]["W"][idx]) < 1e-2, (layer, idx)


def test_fit_distributed_reduces_loss(spark):
    """Map-fit + average-reduce actually learns on a separable toy task."""
    x, y = _toy_data(n=300, dim=8, n_classes=2)
    specs = build_mlp("clf", 8, [16], 1, "sigmoid")
    net = Network(specs, init_weights(specs, 8, 666), {s.name: 0.05 for s in specs})
    df = _xy_df(spark, x, y.reshape(-1, 1).astype(np.float32))
    first = fit_distributed(df, net, n_workers=2, local_steps=5, batch_size=64)
    losses = [first]
    for _ in range(5):
        losses.append(fit_distributed(df, net, n_workers=2, local_steps=5, batch_size=64))
    assert losses[-1] < losses[0], losses


def test_gan_pipeline_two_epochs_deterministic(spark):
    """Full adversarial loop: 2 epochs, seed 666 — runs end-to-end, trains
    all four networks, and is bitwise-reproducible across runs."""
    x, y = _toy_data(n=300, dim=16, n_classes=4)

    def run():
        p = GanPipeline(feature_dim=16, latent_dim=2, dis_hidden=[32, 16],
                        gen_hidden=[16, 32], n_classes=4, seed=666)
        hist = p.fit(spark, x, y, epochs=2, batch_rows=128, n_workers=2, avg_freq=5)
        return p, hist

    p1, h1 = run()
    p2, h2 = run()
    assert len(h1) == 2
    for h in h1:
        assert np.isfinite(h["dis_loss"]) and np.isfinite(h["gan_loss"])
    assert _weights_digest(p1.dis.weights) == _weights_digest(p2.dis.weights)
    assert _weights_digest(p1.gen.weights) == _weights_digest(p2.gen.weights)
    assert h1 == h2

    # O5 observers: grid generation preserves row-major order and shape
    grid = p1.generate_grid(spark, side=4).toPandas()
    assert list(grid["grid_id"]) == list(range(16))
    assert len(grid["output"][0]) == 16

    # transfer-learned classifier predicts valid probability rows
    pred = p1.predict(
        spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(20)],
            "id: long, features: array<float>",
        )
    ).toPandas()
    probs = np.stack(pred["output"].to_numpy())
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, rtol=1e-4)


def test_checkpoint_roundtrip(spark, tmp_path):
    """Each saved row is one tensor; its shape and values rebuild the
    trained weights bitwise."""
    x, y = _toy_data(n=100, dim=8, n_classes=2)
    p = GanPipeline(feature_dim=8, latent_dim=2, dis_hidden=[8], gen_hidden=[8],
                    n_classes=2, seed=666)
    p.fit(spark, x, y, epochs=1, batch_rows=64, n_workers=2, avg_freq=2)
    path = str(tmp_path / "ckpt")
    p.checkpoint(spark, path)
    saved = spark.read.parquet(f"{path}/dis_weights.parquet").collect()
    rebuilt = {}
    for r in saved:
        arr = np.asarray(r["value"], dtype=np.float32).reshape(r["shape"])
        rebuilt.setdefault(r["layer"], {})[r["param"]] = arr
    assert len(saved) == sum(len(ps) for ps in p.dis.weights.values())
    assert rebuilt.keys() == p.dis.weights.keys()
    for layer, params in p.dis.weights.items():
        assert rebuilt[layer].keys() == params.keys()
        for param, arr in params.items():
            assert rebuilt[layer][param].shape == arr.shape
            assert rebuilt[layer][param].tobytes() == arr.tobytes(), (layer, param)


def test_fit_resumes_across_calls(spark):
    """fit(epochs=1) twice trains exactly as fit(epochs=2): the RNG and the
    epoch count carry over between calls."""
    x, y = _toy_data(n=120, dim=8, n_classes=2)

    def pipeline():
        return GanPipeline(feature_dim=8, latent_dim=2, dis_hidden=[8],
                           gen_hidden=[8], n_classes=2, seed=666)

    kw = dict(batch_rows=32, n_workers=2, avg_freq=2)
    once = pipeline()
    once.fit(spark, x, y, epochs=2, **kw)
    twice = pipeline()
    twice.fit(spark, x, y, epochs=1, **kw)
    twice.fit(spark, x, y, epochs=1, **kw)

    assert [h["epoch"] for h in twice.history] == [0, 1]
    assert twice.history == once.history
    for name in ("dis", "gen", "cv"):
        assert _weights_digest(getattr(twice, name).weights) == \
            _weights_digest(getattr(once, name).weights), name


def test_fit_distributed_runs_one_task_per_worker(spark):
    """The map-fit stage of a round runs n_workers tasks in parallel: the
    worker shuffle is never coalesced into one task."""
    x, y = _toy_data(n=120, dim=8, n_classes=2)
    df = _xy_df(spark, x, y.reshape(-1, 1).astype(np.float32)).coalesce(1)
    specs = build_mlp("t", 8, [4], 1, "sigmoid")
    net = Network(specs, init_weights(specs, 8, 666), {s.name: 0.05 for s in specs})
    n_workers = 3
    sc = spark.sparkContext
    group = "test_fit_distributed_runs_one_task_per_worker"
    sc.setJobGroup(group, group)
    try:
        fit_distributed(df, net, n_workers=n_workers, local_steps=2, batch_size=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    assert jobs
    # the round's last job ends in the map-fit stage (shuffle read → mapInPandas)
    fit_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    info = tracker.getStageInfo(fit_stage)
    assert info.numTasks == n_workers
    assert info.numCompletedTasks == n_workers


def test_fit_distributed_matches_local_replay(spark):
    """On a shard of one repeated row, every worker takes the same steps as
    a driver-side replay of net_grads + rmsprop_update, so the averaged
    round equals the replay within float32 rounding; the frozen layer never
    moves. Catches a mis-ordered or mis-sized parameter buffer."""
    batch, steps, n_workers = 8, 3, 2
    x, y = _toy_data(n=1, dim=6, n_classes=2)
    x0 = np.repeat(x[:1], batch, axis=0)
    y0 = np.ones((batch, 1), dtype=np.float32)
    rows = 3 * batch * n_workers
    df = _xy_df(spark, np.repeat(x[:1], rows, axis=0), np.ones((rows, 1), np.float32))

    specs = build_mlp("t", 6, [5, 4], 1, "sigmoid")
    lr = {"t_dense_0": 0.0, "t_dense_1": 0.05, "t_output": 0.02}
    start = init_weights(specs, 6, 666)
    net = Network(specs, {l: {p: a.copy() for p, a in ps.items()} for l, ps in start.items()}, lr)
    fit_distributed(df, net, n_workers=n_workers, local_steps=steps, batch_size=batch)

    replay = {l: {p: a.copy() for p, a in ps.items()} for l, ps in start.items()}
    cache = {}
    for _ in range(steps):
        grads, _ = net_grads(x0, y0, specs, replay)
        rmsprop_update(replay, grads, cache, lr)

    for param, arr in start["t_dense_0"].items():
        assert net.weights["t_dense_0"][param].tobytes() == arr.tobytes(), param
    for layer in ("t_dense_1", "t_output"):
        for param, arr in replay[layer].items():
            got = net.weights[layer][param]
            assert got.shape == arr.shape and got.dtype == np.float32
            assert not np.array_equal(got, start[layer][param]), (layer, param)
            np.testing.assert_allclose(got, arr, rtol=1e-6, atol=1e-7, err_msg=f"{layer}.{param}")


def test_dcgan_rejects_side_not_divisible_by_4():
    with pytest.raises(ValueError, match="divisible by 4"):
        GanPipeline.dcgan(side=30, base_filters=2)


def test_dcgan_conv_two_epochs_deterministic(spark):
    """The reference's headline behavior end-to-end: the full adversarial
    alternation (O4) over the CONV topology (K2 conv, K3 pool-stride, K5
    upsample) — dis conv stack, gen dense→reshape→upsample→conv stack,
    transfer-learned conv classifier head — 2 epochs, seed 666, with
    weight-hash stability across runs (dl4jGANComputerVision.java:408-621).
    """
    side, n = 8, 96
    x, y = _toy_data(n=n, dim=side * side, n_classes=3)

    def run():
        p = GanPipeline.dcgan(side=side, latent_dim=2, base_filters=2,
                              n_classes=3, seed=666)
        hist = p.fit(spark, x, y, epochs=2, batch_rows=48, n_workers=2,
                     avg_freq=4)
        return p, hist

    p1, h1 = run()
    p2, h2 = run()
    assert len(h1) == 2
    for h in h1:
        assert np.isfinite(h["dis_loss"]) and np.isfinite(h["gan_loss"])
        assert np.isfinite(h["cv_loss"])
    assert h1 == h2
    assert _weights_digest(p1.dis.weights) == _weights_digest(p2.dis.weights)
    assert _weights_digest(p1.gen.weights) == _weights_digest(p2.gen.weights)
    # training moved the conv weights (not a frozen no-op)
    p0 = GanPipeline.dcgan(side=side, latent_dim=2, base_filters=2,
                           n_classes=3, seed=666)
    assert _weights_digest(p1.dis.weights) != _weights_digest(p0.dis.weights)

    # W3 grid inference through the conv generator: row-major, side² pixels
    grid = p1.generate_grid(spark, side=3).toPandas()
    assert list(grid["grid_id"]) == list(range(9))
    assert len(grid["output"][0]) == side * side

    # transfer-learned conv classifier emits valid probability rows
    pred = p1.predict(
        spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(10)],
            "id: long, features: array<float>",
        )
    ).toPandas()
    probs = np.stack(pred["output"].to_numpy())
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, rtol=1e-4)


def test_write_png_grid_roundtrip(spark, tmp_path):
    """S12 sink: the PNG mosaic decodes back to exactly the tile layout of
    the ordered grid DataFrame (row-major by grid_id, min-max scaled)."""
    from gan_deeplearning4j_spark.functions.imagecodec import decode_png

    p = GanPipeline(feature_dim=16, latent_dim=2, dis_hidden=[8],
                    gen_hidden=[8], n_classes=2, seed=666)
    path = str(tmp_path / "grid.png")
    png = p.write_png_grid(spark, path, side=3)
    assert open(path, "rb").read() == png

    img = decode_png(png)
    assert img.shape == (12, 12)  # 3×3 tiles of 4×4 (16 = 4*4 outputs)

    grid = p.generate_grid(spark, side=3).toPandas()
    vecs = np.asarray([np.asarray(v, dtype=np.float64)
                       for v in grid["output"]])
    lo, hi = vecs.min(), vecs.max()
    scaled = np.zeros_like(vecs) if hi == lo else (vecs - lo) / (hi - lo)
    expect = (scaled * 255.0).round().astype(np.uint8).reshape(3, 3, 4, 4)
    expect = expect.transpose(0, 2, 1, 3).reshape(12, 12)
    np.testing.assert_array_equal(img, expect)


def test_fit_distributed_conv_topology(spark):
    """O3 over K2/K3/K4: fit_distributed drives the full conv stack (conv →
    maxpool → batchnorm → dense head) — parameter-averaged conv training
    reduces loss and is bit-reproducible across runs (the distributed
    conv-GAN evidence, dl4jGANComputerVision.java:408-621 topology family).
    """
    from gan_deeplearning4j_spark.kernels import LayerSpec

    side, n = 8, 192
    x, y = _toy_data(n=n, dim=side * side, n_classes=2)
    specs = [
        LayerSpec("c_reshape", "reshape", {"shape": (1, side, side)}),
        LayerSpec("c_conv", "conv2d",
                  {"filters": 2, "kernel": 5, "stride": 1, "pad": 2,
                   "activation": "tanh"}),
        LayerSpec("c_pool", "maxpool", {"kernel": 2, "stride": 2}),
        LayerSpec("c_bn", "batchnorm", {}),
        LayerSpec("c_flat", "flatten"),
        LayerSpec("c_out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    df = _xy_df(spark, x, y.reshape(-1, 1).astype(np.float32))

    def run():
        net = Network(
            specs, init_weights(specs, (1, side, side), 666),
            {s.name: 0.05 for s in specs},
        )
        losses = [fit_distributed(df, net, n_workers=2, local_steps=5,
                                  batch_size=64) for _ in range(4)]
        return net, losses

    n1, l1 = run()
    n2, l2 = run()
    assert l1 == l2                     # distributed conv fit is deterministic
    assert l1[-1] < l1[0], l1           # and it learns
    assert _weights_digest(n1.weights) == _weights_digest(n2.weights)
