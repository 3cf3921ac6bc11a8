"""Numeric-gradient checks for the full backward kernel set (conv2d, maxpool,
upsample, batchnorm, reshape) — completing the trainable DCGAN topology."""

from __future__ import annotations

import numpy as np
import pytest

from gan_deeplearning4j_spark.kernels import LayerSpec, forward_cached, init_weights
from gan_deeplearning4j_spark.pipeline import GanPipeline, net_grads

RNG = np.random.default_rng(7)


def _numeric_check(specs, input_shape, params_to_check, n=4, tol=2e-2):
    shape = (input_shape,) if isinstance(input_shape, int) else tuple(input_shape)
    if len(shape) == 1:
        shape_arg = shape[0]
    else:
        shape_arg = shape
    w = init_weights(specs, shape_arg, seed=666)
    x = RNG.standard_normal((n, *shape)).astype(np.float64)
    # binary target on the final dense sigmoid unit
    y = RNG.integers(0, 2, (n, 1)).astype(np.float64)

    grads, _ = net_grads(x, y, specs, {k: {p: a.copy() for p, a in v.items()} for k, v in w.items()})

    def loss_at(wmod):
        p, _ = forward_cached(x.astype(np.float32), specs, wmod, training=True)
        eps = 1e-7
        return float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean())

    eps = 1e-3
    for layer, pname, idx in params_to_check:
        wp = {l: {p: a.copy().astype(np.float64) for p, a in ps.items()} for l, ps in w.items()}
        wm = {l: {p: a.copy().astype(np.float64) for p, a in ps.items()} for l, ps in w.items()}
        wp[layer][pname][idx] += eps
        wm[layer][pname][idx] -= eps
        num = (loss_at(wp) - loss_at(wm)) / (2 * eps)
        ana = grads[layer][pname][idx]
        assert abs(num - ana) < tol, (layer, pname, idx, num, ana)


def test_conv_stack_gradients():
    specs = [
        LayerSpec("c1", "conv2d", {"filters": 3, "kernel": 3, "stride": 1, "pad": 1, "activation": "tanh"}),
        LayerSpec("p1", "maxpool", {"kernel": 2, "stride": 2}),
        LayerSpec("f", "flatten"),
        LayerSpec("out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    _numeric_check(
        specs, (1, 6, 6),
        [("c1", "W", (0, 0, 1, 1)), ("c1", "b", (2,)), ("out", "W", (3, 0))],
    )


def test_upsample_batchnorm_gradients():
    specs = [
        LayerSpec("d1", "dense", {"units": 8, "activation": "tanh"}),
        LayerSpec("r", "reshape", {"shape": (2, 2, 2)}),
        LayerSpec("u", "upsample", {"factor": 2}),
        LayerSpec("bn", "batchnorm", {}),
        LayerSpec("f", "flatten"),
        LayerSpec("out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    _numeric_check(
        specs, (4,),
        [("d1", "W", (1, 3)), ("bn", "gamma", (1,)), ("bn", "beta", (0,)), ("out", "W", (5, 0))],
        n=8,
    )


def test_strided_conv_gradients():
    """The reference discriminator's stride-2 conv (java:135-140)."""
    specs = [
        LayerSpec("c1", "conv2d", {"filters": 2, "kernel": 5, "stride": 2, "pad": 0, "activation": "tanh"}),
        LayerSpec("f", "flatten"),
        LayerSpec("out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    _numeric_check(
        specs, (1, 9, 9),
        [("c1", "W", (1, 0, 2, 3)), ("out", "W", (0, 0))],
    )


def test_stride1_pad2_multichannel_conv_gradients():
    """The generator's conv shape (gen_conv2d_*, java:203-219): 5×5, stride
    1, pad 2, several input and output channels. c1's gradient reaches it
    through c2's input gradient."""
    specs = [
        LayerSpec("c1", "conv2d", {"filters": 3, "kernel": 5, "stride": 1, "pad": 2, "activation": "tanh"}),
        LayerSpec("c2", "conv2d", {"filters": 2, "kernel": 5, "stride": 1, "pad": 2, "activation": "tanh"}),
        LayerSpec("f", "flatten"),
        LayerSpec("out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    _numeric_check(
        specs, (2, 6, 6),
        [("c1", "W", (0, 0, 0, 0)), ("c1", "W", (1, 1, 2, 3)), ("c1", "W", (2, 0, 4, 1)),
         ("c1", "b", (1,)), ("c2", "W", (1, 2, 3, 0))],
        tol=2e-3,
    )


@pytest.mark.parametrize("layer", ["dis_conv2d_0", "dis_conv2d_1", "gen_conv2d_0", "gen_conv2d_1"])
def test_conv_input_gradient_matches_scatter_form(layer):
    """conv2d_backward's dx equals the scatter-add form ``_col2im(dpre @ W)``
    on the four dcgan conv shapes (stride 2 and stride 1)."""
    from gan_deeplearning4j_spark.kernels import _col2im, act_grad, conv2d_backward

    rng = np.random.default_rng(11)
    g = GanPipeline.dcgan(base_filters=4)
    net, x = ((g.dis, rng.uniform(0, 1, (25, 28 * 28))) if layer.startswith("dis")
              else (g.gen, rng.uniform(-1, 1, (25, 2))))
    _, caches = forward_cached(x.astype(np.float32), net.specs, net.weights)
    cache = caches[[s.name for s in net.specs].index(layer)]
    dy = rng.standard_normal(cache["y"].shape).astype(np.float32)

    dx, _ = conv2d_backward(dy, cache)
    W = cache["W"]
    out_c, _, kh, kw = W.shape
    dpre = (dy * act_grad(cache["y"], cache["activation"])).transpose(0, 2, 3, 1)
    scatter = _col2im(dpre @ W.reshape(out_c, -1), cache["x_shape"], kh, kw,
                      cache["stride"], cache["pad"])
    assert dx.shape == scatter.shape == cache["x_shape"]
    assert np.abs(dx - scatter).max() <= 1e-5 * np.abs(scatter).max()


@pytest.mark.parametrize("name", ["dis", "gan", "cv"])
def test_sweep_to_trainable_layers_matches_full_sweep(name):
    """``net_grads`` asked for a round's trainable layers stops its sweep at
    the earliest of them and gives those layers the full sweep's gradients,
    bit for bit. The cv net trains its head only, so its sweep stops there."""
    from gan_deeplearning4j_spark.pipeline import _trainable

    rng = np.random.default_rng(5)
    g = GanPipeline.dcgan(base_filters=4)
    net = {"dis": g.dis, "gan": g.gan, "cv": g._classifier()}[name]
    x = rng.uniform(0, 1, (13, 28 * 28)) if name != "gan" else rng.uniform(-1, 1, (13, 2))
    y = (np.eye(10)[rng.integers(0, 10, 13)] if name == "cv"
         else rng.integers(0, 2, (13, 1))).astype(np.float32)
    trained = _trainable(net)

    full, full_loss = net_grads(x, y, net.specs, _copy(net.weights))
    swept, loss = net_grads(x, y, net.specs, _copy(net.weights), layers=trained)
    assert loss == full_loss
    assert set(trained) <= set(swept) <= set(full)
    for layer, params in trained.items():
        for p in params:
            assert np.array_equal(swept[layer][p], full[layer][p]), (layer, p)
    if name == "cv":
        assert set(swept) == {"cv_output"}


def _copy(weights):
    return {l: {p: a.copy() for p, a in ps.items()} for l, ps in weights.items()}


def test_conv_gan_trains_end_to_end(spark):
    """A small DCGAN — conv discriminator, upsampling conv generator — runs
    the full distributed adversarial loop (the reference's actual topology
    family, java:118-310) and is deterministic across runs."""
    side = 8
    rng = np.random.default_rng(666)
    # 'images': blobs with class-dependent quadrant intensity
    y = rng.integers(0, 2, 200)
    x = rng.uniform(0, 0.2, (200, side * side)).astype(np.float32)
    x[y == 1, : side * side // 2] += 0.6

    def run():
        p = GanPipeline.dcgan(side=side, latent_dim=2, base_filters=4,
                              n_classes=2, seed=666)
        return p.fit(spark, x, y, epochs=2, batch_rows=64, n_workers=2, avg_freq=3)

    h1, h2 = run(), run()
    assert len(h1) == 2
    assert all(np.isfinite(h["dis_loss"]) and np.isfinite(h["gan_loss"]) for h in h1)
    assert h1 == h2  # bitwise-deterministic distributed conv training


def test_net_grads_folds_batch_stats_into_running_averages():
    """A training step moves batchnorm's running mean/var toward the batch
    statistics by ``1 - bn_momentum`` (A5); inference then reads them."""
    from gan_deeplearning4j_spark.kernels import forward

    specs = [
        LayerSpec("d1", "dense", {"units": 4, "activation": "tanh"}),
        LayerSpec("bn", "batchnorm", {}),
        LayerSpec("out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    w = init_weights(specs, 3, seed=1)
    x = RNG.standard_normal((16, 3)).astype(np.float32)
    y = RNG.integers(0, 2, (16, 1)).astype(np.float32)
    h = forward(x, specs[:1], w)  # the batchnorm layer's input
    net_grads(x, y, specs, w, bn_momentum=0.8)
    np.testing.assert_allclose(w["bn"]["mean"], 0.2 * h.mean(axis=0), rtol=1e-5, atol=1e-7)
    np.testing.assert_allclose(w["bn"]["var"], 0.8 + 0.2 * h.var(axis=0), rtol=1e-5)
    assert w["bn"]["mean"].dtype == w["bn"]["var"].dtype == np.float32
