"""Numpy-fixture tests for the tensor kernels (SURVEY §5.2: non-SQL kernels
get numpy-vs-engine fixtures instead of a DuckDB oracle)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from gan_deeplearning4j_spark.kernels import (
    LayerSpec,
    act,
    apply_network,
    forward,
    forward_cached,
    init_weights,
    k_batchnorm,
    k_conv2d,
    k_dense,
    k_maxpool,
    k_upsample,
    list_to_matrix,
    matrix_to_list,
)

RNG = np.random.default_rng(666)


def naive_conv2d(x, W, b, stride, pad):
    n, c, h, w = x.shape
    oc, ic, kh, kw = W.shape
    xp = np.pad(x, ((0, 0), (0, 0), (pad, pad), (pad, pad)))
    oh = (xp.shape[2] - kh) // stride + 1
    ow = (xp.shape[3] - kw) // stride + 1
    out = np.zeros((n, oc, oh, ow), dtype=np.float64)
    for ni in range(n):
        for oci in range(oc):
            for i in range(oh):
                for j in range(ow):
                    patch = xp[ni, :, i * stride : i * stride + kh, j * stride : j * stride + kw]
                    out[ni, oci, i, j] = (patch * W[oci]).sum() + b[oci]
    return out


def test_conv2d_matches_naive():
    x = RNG.standard_normal((2, 3, 8, 8)).astype(np.float32)
    W = RNG.standard_normal((4, 3, 5, 5)).astype(np.float32)
    b = RNG.standard_normal(4).astype(np.float32)
    for stride, pad in [(1, 0), (2, 2), (1, 2)]:
        got = k_conv2d(x, W, b, stride, pad)
        want = naive_conv2d(x, W, b, stride, pad)
        np.testing.assert_allclose(got, want, rtol=1e-4, atol=1e-4)


def test_maxpool_2x2_stride1():
    x = np.arange(16, dtype=np.float32).reshape(1, 1, 4, 4)
    out = k_maxpool(x, 2, 1)
    want = np.array([[[[5, 6, 7], [9, 10, 11], [13, 14, 15]]]], dtype=np.float32)
    np.testing.assert_array_equal(out, want)


def test_upsample_nearest():
    x = np.array([[[[1.0, 2.0], [3.0, 4.0]]]], dtype=np.float32)
    out = k_upsample(x, 2)
    want = np.array(
        [[[[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]]]], dtype=np.float32
    )
    np.testing.assert_array_equal(out, want)


def test_batchnorm_normalizes():
    x = RNG.standard_normal((64, 10)).astype(np.float32) * 5 + 3
    mean, var = x.mean(axis=0), x.var(axis=0)
    out = k_batchnorm(x, np.ones(10), np.zeros(10), mean, var, eps=1e-8)
    np.testing.assert_allclose(out.mean(axis=0), 0, atol=1e-5)
    np.testing.assert_allclose(out.std(axis=0), 1, atol=1e-3)


def test_softmax_rows_sum_to_one():
    x = RNG.standard_normal((5, 10)).astype(np.float32)
    np.testing.assert_allclose(act(x, "softmax").sum(axis=1), 1.0, rtol=1e-5)


def test_dense_forward_shapes_like_reference_dis():
    """The reference discriminator's flat-input contract: (n, 784) → (n, 1)
    (shape smoke check pattern, dl4jGANComputerVision.java:167-170)."""
    specs = [
        LayerSpec("dis_dense_1", "dense", {"units": 64, "activation": "tanh"}),
        LayerSpec("dis_dense_2", "dense", {"units": 32, "activation": "tanh"}),
        LayerSpec("dis_out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    w = init_weights(specs, 784, seed=666)
    x = RNG.standard_normal((10, 784)).astype(np.float32)
    y = forward(x, specs, w)
    assert y.shape == (10, 1)
    assert ((y >= 0) & (y <= 1)).all()
    # determinism: same seed → same init → same output
    w2 = init_weights(specs, 784, seed=666)
    np.testing.assert_array_equal(forward(x, specs, w2), y)


def test_conv_pipeline_shapes_like_reference_gen():
    """Generator topology shape contract (java:173-221): latent → dense 6272
    → (128,7,7) → upsample ×2 → conv → upsample ×2 → conv → (1,28,28)."""
    specs = [
        LayerSpec("gen_dense_1", "dense", {"units": 6272, "activation": "tanh"}),
        LayerSpec("gen_reshape", "reshape", {"shape": (128, 7, 7)}),
        LayerSpec("gen_up_1", "upsample", {"factor": 2}),
        LayerSpec("gen_conv_1", "conv2d", {"filters": 64, "kernel": 5, "stride": 1, "pad": 2, "activation": "tanh"}),
        LayerSpec("gen_up_2", "upsample", {"factor": 2}),
        LayerSpec("gen_conv_2", "conv2d", {"filters": 1, "kernel": 5, "stride": 1, "pad": 2, "activation": "sigmoid"}),
        LayerSpec("gen_flat", "flatten"),
    ]
    w = init_weights(specs, 2, seed=666)
    z = RNG.uniform(-1, 1, (4, 2)).astype(np.float32)
    img = forward(z, specs, w)
    assert img.shape == (4, 784)


def test_apply_network_distributed_matches_local(spark):
    """mapInArrow forward == local numpy forward, row-for-row, for float
    and double feature lists (the MNIST CSV scan emits doubles). The JVM
    casts doubles to float before the kernel, rounding as numpy's cast
    does, so both element types give bitwise the same output."""
    specs = [
        LayerSpec("d1", "dense", {"units": 16, "activation": "tanh"}),
        LayerSpec("d2", "dense", {"units": 4, "activation": "sigmoid"}),
    ]
    w = init_weights(specs, 8, seed=666)
    x = RNG.standard_normal((50, 8)).astype(np.float32)
    pdf = [(i, [float(v) for v in x[i]]) for i in range(50)]
    want = forward(x, specs, w)
    got = {}
    for elem in ("float", "double"):
        df = spark.createDataFrame(pdf, f"id: long, features: array<{elem}>")
        out = apply_network(df, specs, w).orderBy("id").toPandas()
        assert list(out["id"]) == list(range(50))
        got[elem] = np.stack(out["output"].to_numpy())
        np.testing.assert_allclose(got[elem], want, rtol=1e-5, atol=1e-6)
    np.testing.assert_array_equal(got["double"], got["float"])


def test_list_to_matrix_views_sliced_lists():
    import pyarrow as pa

    for t in (pa.float64(), pa.int64()):  # array<long>: the fixed-point scorers' input
        arr = pa.array([[1, 2], [3, 4], [5, 6]], pa.list_(t))
        got = list_to_matrix(arr.slice(1))
        assert got.dtype == t.to_pandas_dtype()
        np.testing.assert_array_equal(got, [[3, 4], [5, 6]])
        assert list_to_matrix(arr.slice(0, 0)).shape == (0, 0)
    # matrix_to_list is the inverse: same values, shape and dtype back
    for m in (np.random.default_rng(0).standard_normal((4, 3)).astype(np.float32),
              np.arange(12, dtype=np.int64).reshape(3, 4)[:, 1:],
              np.zeros((2, 0), dtype=np.float32)):
        back = list_to_matrix(matrix_to_list(m))
        assert back.dtype == m.dtype and back.shape == m.shape
        np.testing.assert_array_equal(back, m)


@pytest.mark.parametrize("rows", [
    [[1, 2], [3]],          # ragged
    [[1, 2], None],         # null list
    [[1, 2], [3, None]],    # null element
])
def test_list_to_matrix_rejects_ragged_and_null(rows):
    import pyarrow as pa

    for t in (pa.float32(), pa.int64()):
        arr = pa.array(rows, pa.list_(t))
        with pytest.raises(ValueError):
            list_to_matrix(arr)


def test_apply_network_null_features_raise(spark):
    specs = [LayerSpec("d1", "dense", {"units": 2, "activation": "tanh"})]
    w = init_weights(specs, 2, seed=666)
    df = spark.createDataFrame([(0, [1.0, 2.0]), (1, None)], "id: long, features: array<float>")
    with pytest.raises(PySparkException, match="null rows"):
        apply_network(df.coalesce(1), specs, w).collect()


# a stack that uses every layer kind, on (1, 8, 8) images
EVERY_KIND = [
    LayerSpec("r", "reshape", {"shape": (1, 8, 8)}),
    LayerSpec("c", "conv2d", {"filters": 3, "kernel": 3, "stride": 1, "pad": 1}),
    LayerSpec("bn", "batchnorm"),
    LayerSpec("p", "maxpool", {"kernel": 2, "stride": 2}),
    LayerSpec("u", "upsample", {"factor": 2}),
    LayerSpec("c2", "conv2d", {"filters": 2, "kernel": 5, "stride": 2, "pad": 0}),
    LayerSpec("f", "flatten"),
    LayerSpec("bn2", "batchnorm"),
    LayerSpec("d", "dense", {"units": 5}),
    LayerSpec("o", "dense", {"units": 1, "activation": "sigmoid"}),
]


def test_init_weights_shapes_cover_every_kind():
    """Each layer's tensors are shaped by its input, as the layers before it
    produce it: conv 8×8 pad 1 → pool /2 → up ×2 → 5×5 stride 2 → 2·2·2."""
    w = init_weights(EVERY_KIND, 64, seed=3)
    shapes = {l: {p: a.shape for p, a in ps.items()} for l, ps in w.items()}
    bn = lambda n: {"gamma": (n,), "beta": (n,), "mean": (n,), "var": (n,)}  # noqa: E731
    assert shapes == {
        "c": {"W": (3, 1, 3, 3), "b": (3,)},
        "bn": bn(3),
        "c2": {"W": (2, 3, 5, 5), "b": (2,)},
        "bn2": bn(8),
        "d": {"W": (8, 5), "b": (5,)},
        "o": {"W": (5, 1), "b": (1,)},
    }
    assert all(a.dtype == np.float32 for ps in w.values() for a in ps.values())


@pytest.mark.parametrize("entry", ["init_weights", "forward", "forward_cached"])
def test_unknown_layer_kind_raises(entry):
    specs = [LayerSpec("d", "dense", {"units": 2}), LayerSpec("x", "dens")]
    x = np.zeros((3, 4), dtype=np.float32)
    w = init_weights(specs[:1], 4)
    call = {
        "init_weights": lambda: init_weights(specs, 4),
        "forward": lambda: forward(x, specs, w),
        "forward_cached": lambda: forward_cached(x, specs, w),
    }[entry]
    with pytest.raises(ValueError, match="unknown layer kind 'dens'"):
        call()


@pytest.mark.parametrize("net", ["dis", "gen", "gan", "cv", "every_kind"])
def test_forward_equals_forward_cached_inference(net):
    """``forward`` is ``forward_cached(training=False)`` without the caches,
    bitwise, on the four dcgan nets and on a batchnorm/maxpool/upsample
    stack."""
    from gan_deeplearning4j_spark.pipeline import GanPipeline

    rng = np.random.default_rng(5)
    if net == "every_kind":
        specs, w, d = EVERY_KIND, init_weights(EVERY_KIND, 64, seed=3), 64
        # non-trivial running statistics, so eval-mode batchnorm is exercised
        for bn in ("bn", "bn2"):
            n = len(w[bn]["mean"])
            w[bn]["mean"] = rng.normal(0, 0.1, n).astype(np.float32)
            w[bn]["var"] = rng.uniform(0.5, 2, n).astype(np.float32)
    else:
        g = GanPipeline.dcgan(base_filters=4)
        g._classifier()
        n = getattr(g, net)
        specs, w, d = n.specs, n.weights, 2 if net in ("gen", "gan") else 784
    x = rng.uniform(0, 1, (7, d))
    want, _ = forward_cached(x, specs, w, training=False)
    got = forward(x, specs, w)
    assert got.dtype == want.dtype == np.float32
    np.testing.assert_array_equal(got, want)
