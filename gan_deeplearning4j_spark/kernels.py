"""Tensor kernels (SURVEY §2.8 K1-K10): the engine's non-SQL compute path.

The reference executes these as ND4J layer ops inside DL4J ComputationGraphs
(dense dl4jGANComputerVision.java:155-158,189-196; conv2d 5×5 :135-150,
203-219; maxpool 2×2/1 :141-144,151-154; upsampling ×2 :201-202,210-211;
batchnorm :132-134 et al.; activations :126,162,215,362; forward inference
`net.output` :170,225,314,551,578).

Engine re-expression: stateless numpy kernels over NCHW float32 arrays,
driven from Spark via ``mapInArrow`` — one Arrow batch plays the role of one
ND4J minibatch (the reference's batchSizePred=500 chunking is
``spark.sql.execution.arrow.maxRecordsPerBatch``); its feature list column
becomes one ``(n, d)`` array through ``list_to_matrix`` with no per-row
Python objects. Weights travel as a broadcast dict (they are MB-scale; data
is the TB-scale side).

Each layer kind is defined once, as one ``Layer`` entry of ``LAYERS``: its
parameter init, its forward and its backward, as DL4J's layer classes each
carry theirs. ``forward``, ``forward_cached``, ``backward`` and
``init_weights`` walk a network's ``LayerSpec`` list through that table and
hold no per-kind code, so a new layer kind is one entry.

At 100 TB: inference is embarrassingly parallel — no shuffle at all, the
kernel pipeline fuses into a single mapInArrow stage over the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Collection, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import DEFAULT_SEED

Weights = dict[str, dict[str, np.ndarray]]


@dataclass
class LayerSpec:
    """One named layer of a network DAG (the reference's addLayer(name, ...)).

    ``kind`` names its entry in ``LAYERS``; kinds and cfg keys:
    - dense:     units, activation
    - conv2d:    filters, kernel, stride, pad, activation   (NCHW)
    - maxpool:   kernel, stride
    - upsample:  factor
    - batchnorm: eps (uses running mean/var params)
    - reshape:   shape (C,H,W) — K7 layout preprocessor, metadata-only
    - flatten:   —
    """

    name: str
    kind: str
    cfg: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------

def act(x: np.ndarray, name: str | None) -> np.ndarray:
    """K6 activations (tanh default, java:126; sigmoid :162; softmax :362)."""
    if name in (None, "identity", "linear"):
        return x
    if name == "tanh":
        return np.tanh(x)
    if name == "sigmoid":
        return 1.0 / (1.0 + np.exp(-x))
    if name == "relu":
        return np.maximum(x, 0.0)
    if name == "leakyrelu":
        return np.where(x > 0, x, 0.2 * x)
    if name == "softmax":
        e = np.exp(x - x.max(axis=-1, keepdims=True))
        return e / e.sum(axis=-1, keepdims=True)
    raise ValueError(f"unknown activation {name}")


def act_grad(y: np.ndarray, name: str | None) -> np.ndarray:
    """dact/dpre expressed in terms of the activation output y."""
    if name in (None, "identity", "linear"):
        return np.ones_like(y)
    if name == "tanh":
        return 1.0 - y * y
    if name == "sigmoid":
        return y * (1.0 - y)
    if name == "relu":
        return (y > 0).astype(y.dtype)
    if name == "leakyrelu":
        return np.where(y > 0, 1.0, 0.2).astype(y.dtype)
    raise ValueError(f"no elementwise grad for {name}")


def k_dense(x: np.ndarray, W: np.ndarray, b: np.ndarray) -> np.ndarray:
    """K1: (n, in) @ (in, out) + (out,)."""
    return x @ W + b


def _im2col(x: np.ndarray, kh: int, kw: int, stride: int, pad: int):
    n, c, h, w = x.shape
    if pad:
        x = np.pad(x, ((0, 0), (0, 0), (pad, pad), (pad, pad)))
    oh = (x.shape[2] - kh) // stride + 1
    ow = (x.shape[3] - kw) // stride + 1
    s = x.strides
    windows = np.lib.stride_tricks.as_strided(
        x,
        shape=(n, c, oh, ow, kh, kw),
        strides=(s[0], s[1], s[2] * stride, s[3] * stride, s[2], s[3]),
        writeable=False,
    )
    # (n, oh, ow, c*kh*kw)
    return windows.transpose(0, 2, 3, 1, 4, 5).reshape(n, oh, ow, c * kh * kw), oh, ow


def k_conv2d(
    x: np.ndarray, W: np.ndarray, b: np.ndarray, stride: int = 1, pad: int = 0
) -> np.ndarray:
    """K2: NCHW conv via im2col + matmul (the BLAS path, like ND4J).
    W: (out_c, in_c, kh, kw), b: (out_c,)."""
    out_c, in_c, kh, kw = W.shape
    cols, oh, ow = _im2col(x, kh, kw, stride, pad)
    out = cols @ W.reshape(out_c, -1).T + b  # (n, oh, ow, out_c)
    return out.transpose(0, 3, 1, 2)


def _pool_cols(x: np.ndarray, kernel: int, stride: int):
    """Each channel's ``kernel``×``kernel`` windows: ``(n·c, oh, ow, k²)``."""
    n, c, h, w = x.shape
    return _im2col(x.reshape(n * c, 1, h, w), kernel, kernel, stride, 0)


def k_maxpool(x: np.ndarray, kernel: int = 2, stride: int = 1) -> np.ndarray:
    """K3: sliding-window max over NCHW (kernel 2×2 stride 1, java:141-144)."""
    cols, oh, ow = _pool_cols(x, kernel, stride)
    return cols.max(axis=-1).reshape(x.shape[0], x.shape[1], oh, ow)


def k_upsample(x: np.ndarray, factor: int = 2) -> np.ndarray:
    """K5: nearest-neighbor ×factor (java:201-202)."""
    return np.repeat(np.repeat(x, factor, axis=-1), factor, axis=-2)


def k_batchnorm(
    x: np.ndarray, gamma, beta, mean, var, eps: float = 1e-5
) -> np.ndarray:
    """K4/A5 inference mode: (x-μ)/√(σ²+ε)·γ+β. For NCHW inputs the stats
    are per-channel; for (n, f) per-feature."""
    if x.ndim == 4:
        shp = (1, -1, 1, 1)
        return (x - mean.reshape(shp)) / np.sqrt(var.reshape(shp) + eps) * gamma.reshape(shp) + beta.reshape(shp)
    return (x - mean) / np.sqrt(var + eps) * gamma + beta


def clip_grad(g: np.ndarray, threshold: float = 1.0) -> np.ndarray:
    """K9 (java:123-124): element-wise |v| ≤ threshold."""
    return np.clip(g, -threshold, threshold)


def _col2im(dcols: np.ndarray, x_shape, kh: int, kw: int, stride: int, pad: int) -> np.ndarray:
    """Scatter-add inverse of _im2col. dcols: (n, oh, ow, c*kh*kw)."""
    n, c, h, w = x_shape
    oh, ow = dcols.shape[1], dcols.shape[2]
    dxp = np.zeros((n, c, h + 2 * pad, w + 2 * pad), dtype=dcols.dtype)
    d6 = dcols.reshape(n, oh, ow, c, kh, kw)
    for i in range(kh):
        for j in range(kw):
            dxp[:, :, i : i + oh * stride : stride, j : j + ow * stride : stride] += (
                d6[:, :, :, :, i, j].transpose(0, 3, 1, 2)
            )
    return dxp[:, :, pad : pad + h, pad : pad + w] if pad else dxp


# ---------------------------------------------------------------------------
# the layer table: one entry per kind. ``init(in_shape, cfg, rng)`` draws the
# kind's tensors for a per-row input shape; ``forward(x, w, cfg, training)``
# returns ``(y, cache)``; ``backward(d, cache)`` takes dL/dy and returns
# ``(dL/dx, grads)``, folding the activation its cache names under
# ``activation`` (``backward`` blanks it for the output layer).
# ---------------------------------------------------------------------------

def _xavier(rng, fan_in: int, fan_out: int, shape: tuple) -> np.ndarray:
    """Xavier uniform init (java:127)."""
    limit = np.sqrt(6.0 / (fan_in + fan_out))
    return rng.uniform(-limit, limit, shape).astype(np.float32)


def _dense_init(in_shape, cfg, rng) -> dict:
    fan_in, units = int(np.prod(in_shape)), cfg["units"]
    return {"W": _xavier(rng, fan_in, units, (fan_in, units)),
            "b": np.zeros(units, dtype=np.float32)}


def _dense_forward(x, w, cfg, training):
    in_shape = x.shape
    if x.ndim > 2:
        x = x.reshape(x.shape[0], -1)
    activation = cfg.get("activation", "tanh")
    y = act(k_dense(x, w["W"], w["b"]), activation)
    return y, {"x": x, "y": y, "W": w["W"], "activation": activation, "in_shape": in_shape}


def _dense_backward(d, cache):
    d = d * act_grad(cache["y"], cache["activation"])
    grads = {"W": cache["x"].T @ d, "b": d.sum(axis=0)}
    return (d @ cache["W"].T).reshape(cache["in_shape"]), grads


def _conv2d_init(in_shape, cfg, rng) -> dict:
    c, f, k = in_shape[0], cfg["filters"], cfg["kernel"]
    return {"W": _xavier(rng, c * k * k, f * k * k, (f, c, k, k)),
            "b": np.zeros(f, dtype=np.float32)}


def _conv2d_forward(x, w, cfg, training):
    stride, pad = cfg.get("stride", 1), cfg.get("pad", 0)
    activation = cfg.get("activation", "tanh")
    y = act(k_conv2d(x, w["W"], w["b"], stride, pad), activation)
    return y, {"x": x, "x_shape": x.shape, "W": w["W"], "y": y, "stride": stride,
               "pad": pad, "activation": activation}


def conv2d_backward(dy: np.ndarray, cache: dict) -> tuple[np.ndarray, dict]:
    """K2 backward. dy: (n, out_c, oh, ow) gradient wrt post-activation.

    The cache holds the layer's input, not its im2col columns, so no pass
    keeps columns past their layer; dW re-derives them. For stride 1, dx is
    the full correlation of ``dpre`` with the flipped, channel-transposed
    kernel: one ``_im2col`` of ``dpre`` padded by ``k - 1 - pad`` and one
    matmul. Strided convs scatter-add their column gradients back through
    ``_col2im``."""
    W, y, stride, pad, x_shape, activation = (
        cache["W"], cache["y"], cache["stride"], cache["pad"],
        cache["x_shape"], cache["activation"],
    )
    out_c, in_c, kh, kw = W.shape
    dpre = (dy * act_grad(y, activation)).transpose(0, 2, 3, 1)  # (n, oh, ow, oc)
    cols, _, _ = _im2col(cache["x"], kh, kw, stride, pad)
    dW = (
        dpre.reshape(-1, out_c).T @ cols.reshape(-1, cols.shape[-1])
    ).reshape(W.shape)
    del cols
    db = dpre.sum(axis=(0, 1, 2))
    if stride == 1 and kh == kw and pad < kh:
        dcols, _, _ = _im2col(dpre.transpose(0, 3, 1, 2), kh, kw, 1, kh - 1 - pad)
        w_flip = W[:, :, ::-1, ::-1].transpose(1, 0, 2, 3).reshape(in_c, -1)
        dx = (dcols @ w_flip.T).transpose(0, 3, 1, 2)  # (n, in_c, h, w)
    else:
        dx = _col2im(dpre @ W.reshape(out_c, -1), x_shape, kh, kw, stride, pad)
    return dx, {"W": dW, "b": db}


def _maxpool_forward(x, w, cfg, training):
    kernel, stride = cfg.get("kernel", 2), cfg.get("stride", 1)
    return k_maxpool(x, kernel, stride), {"x": x, "kernel": kernel, "stride": stride}


def _maxpool_backward(dy, cache):
    """K3 backward: route gradient to the (first) max element per window."""
    x, kernel, stride = cache["x"], cache["kernel"], cache["stride"]
    n, c, h, w = x.shape
    cols, oh, ow = _pool_cols(x, kernel, stride)
    dcols = np.zeros_like(cols)
    np.put_along_axis(
        dcols, cols.argmax(axis=-1)[..., None], dy.reshape(n * c, oh, ow, 1), axis=-1
    )
    dx = _col2im(dcols, (n * c, 1, h, w), kernel, kernel, stride, 0)
    return dx.reshape(n, c, h, w), {}


def _upsample_forward(x, w, cfg, training):
    factor = cfg.get("factor", 2)
    return k_upsample(x, factor), {"factor": factor}


def _upsample_backward(dy, cache):
    """K5 backward: sum-pool the gradient over each f×f block."""
    f = cache["factor"]
    n, c, H, W = dy.shape
    return dy.reshape(n, c, H // f, f, W // f, f).sum(axis=(3, 5)), {}


def _batchnorm_init(in_shape, cfg, rng) -> dict:
    nf = in_shape[0] if len(in_shape) == 3 else int(np.prod(in_shape))
    return {"gamma": np.ones(nf, dtype=np.float32), "beta": np.zeros(nf, dtype=np.float32),
            "mean": np.zeros(nf, dtype=np.float32), "var": np.ones(nf, dtype=np.float32)}


def _batchnorm_forward(x, w, cfg, training):
    """A5: inference normalizes with the running mean/var; training with the
    batch statistics (per-channel for NCHW), which the cache hands to
    ``update_running_stats`` under ``running``."""
    eps = cfg.get("eps", 1e-5)
    if not training:
        return k_batchnorm(x, w["gamma"], w["beta"], w["mean"], w["var"], eps), {}
    axes, shp = ((0, 2, 3), (1, -1, 1, 1)) if x.ndim == 4 else ((0,), (1, -1))
    mu = x.mean(axis=axes)
    var = x.var(axis=axes)
    xhat = (x - mu.reshape(shp)) / np.sqrt(var.reshape(shp) + eps)
    y = xhat * w["gamma"].reshape(shp) + w["beta"].reshape(shp)
    return y, {"xhat": xhat, "var": var, "gamma": w["gamma"], "eps": eps, "axes": axes,
               "shp": shp, "m": int(np.prod([x.shape[a] for a in axes])),
               "running": {"mean": mu, "var": var}}


def batchnorm_backward(dy: np.ndarray, cache: dict) -> tuple[np.ndarray, dict]:
    if "xhat" not in cache:
        raise RuntimeError("cannot backprop through eval-mode batchnorm")
    xhat, var, gamma, eps, axes, shp, m = (
        cache["xhat"], cache["var"], cache["gamma"], cache["eps"],
        cache["axes"], cache["shp"], cache["m"],
    )
    dgamma = (dy * xhat).sum(axis=axes)
    dbeta = dy.sum(axis=axes)
    dxhat = dy * gamma.reshape(shp)
    inv_std = 1.0 / np.sqrt(var.reshape(shp) + eps)
    dx = (
        inv_std / m
        * (m * dxhat - dxhat.sum(axis=axes).reshape(shp)
           - xhat * (dxhat * xhat).sum(axis=axes).reshape(shp))
    )
    return dx, {"gamma": dgamma, "beta": dbeta}


def _reshape_forward(x, w, cfg, training):
    return x.reshape(x.shape[0], *cfg["shape"]), {"in_shape": x.shape}


def _flatten_forward(x, w, cfg, training):
    return x.reshape(x.shape[0], -1), {"in_shape": x.shape}


def _unshape_backward(d, cache):
    return d.reshape(cache["in_shape"]), {}


@dataclass(frozen=True)
class Layer:
    """One layer kind: ``forward`` and ``backward``, plus ``init`` for a
    kind with parameters (see the section comment for the signatures)."""

    forward: Callable
    backward: Callable
    init: Callable | None = None


LAYERS: dict[str, Layer] = {
    "dense": Layer(_dense_forward, _dense_backward, _dense_init),
    "conv2d": Layer(_conv2d_forward, conv2d_backward, _conv2d_init),
    "maxpool": Layer(_maxpool_forward, _maxpool_backward),
    "upsample": Layer(_upsample_forward, _upsample_backward),
    "batchnorm": Layer(_batchnorm_forward, batchnorm_backward, _batchnorm_init),
    "reshape": Layer(_reshape_forward, _unshape_backward),
    "flatten": Layer(_flatten_forward, _unshape_backward),
}


def _layer(kind: str) -> Layer:
    try:
        return LAYERS[kind]
    except KeyError:
        raise ValueError(f"unknown layer kind {kind!r}") from None


# ---------------------------------------------------------------------------
# network passes over the table (K10)
# ---------------------------------------------------------------------------

def init_weights(
    specs: list[LayerSpec], input_dim: int | tuple, seed: int = DEFAULT_SEED
) -> Weights:
    """Xavier init (java:127), deterministic per (seed, layer index): layer
    ``i`` draws from ``default_rng(seed + i * 1009)``. Each layer's input
    shape comes from running the layers before it on one zero row.
    ``input_dim``: flat feature count, or an (C, H, W) shape for conv input."""
    weights: Weights = {}
    dim = (input_dim,) if isinstance(input_dim, int) else tuple(input_dim)
    x = np.zeros((1, *dim), dtype=np.float32)
    for i, spec in enumerate(specs):
        layer = _layer(spec.kind)
        if layer.init is not None:
            rng = np.random.default_rng(seed + i * 1009)
            weights[spec.name] = layer.init(x.shape[1:], spec.cfg, rng)
        x = layer.forward(x, weights.get(spec.name, {}), spec.cfg, False)[0]
    return weights


def forward(x: np.ndarray, specs: list[LayerSpec], weights: Weights) -> np.ndarray:
    """K10 full forward pass (net.output, java:170 et al.): the inference
    half of ``forward_cached``, dropping each layer's cache as it returns."""
    out = x.astype(np.float32)
    for spec in specs:
        out = _layer(spec.kind).forward(out, weights.get(spec.name, {}), spec.cfg, False)[0]
    return out


def forward_cached(
    x: np.ndarray, specs: list[LayerSpec], weights: Weights, training: bool = True
) -> tuple[np.ndarray, list]:
    """K10 forward with per-layer caches for backward. In training mode,
    batchnorm uses batch statistics (the reference's BN layers train on
    batch stats and keep running averages — A5)."""
    out = x.astype(np.float32)
    caches: list = []
    for spec in specs:
        out, cache = _layer(spec.kind).forward(out, weights.get(spec.name, {}), spec.cfg, training)
        caches.append(cache)
    return out, caches


def backward(
    dout: np.ndarray, specs: list[LayerSpec], weights: Weights, caches: list,
    layers: Collection[str] | None = None,
) -> tuple[Weights, np.ndarray | None]:
    """Reverse sweep over ``forward_cached``'s caches. ``dout`` is dL/dpre
    of the output layer: the caller pairs its activation with the loss
    (sigmoid-XENT, softmax-MCXENT), so that layer backpropagates as
    identity; every other layer folds its own activation gradient. Returns
    the gradients of the swept layers with parameters, and dL/dx.

    ``layers`` names the layers whose gradients the caller wants (default:
    all). The sweep stops after the earliest of them, so the layers below it
    cost nothing; dL/dx is then ``None`` unless that layer is the first."""
    stop = 0 if layers is None else min(
        (i for i, spec in enumerate(specs) if spec.name in layers), default=len(specs))
    grads: Weights = {}
    d = dout
    for i in range(len(specs) - 1, stop - 1, -1):
        cache = caches[i] if i < len(specs) - 1 else {**caches[i], "activation": None}
        d, g = _layer(specs[i].kind).backward(d, cache)
        if g:
            grads[specs[i].name] = g
    return grads, d if stop == 0 else None


def update_running_stats(
    specs: list[LayerSpec], weights: Weights, caches: list, momentum: float
) -> None:
    """Fold the batch statistics a training-mode ``forward_cached`` left
    under ``running`` (batchnorm's mean and var) into the running averages
    in ``weights``, in place: ``momentum · old + (1 - momentum) · batch``."""
    for spec, cache in zip(specs, caches):
        for pname, batch in cache.get("running", {}).items():
            w = weights[spec.name]
            w[pname] = (momentum * w[pname] + (1 - momentum) * batch).astype(np.float32)


# ---------------------------------------------------------------------------
# Spark integration: distributed inference via mapInArrow
# ---------------------------------------------------------------------------

def list_to_matrix(arr) -> np.ndarray:
    """Arrow list array of ``n`` equal-length numeric lists → ``(n, d)``
    numpy view of its values, in the values' dtype.

    Raises ``ValueError`` on a null list or null element, and on lists of
    different lengths: a reshape of a ragged or null-holding buffer would
    misalign every later row instead of failing."""
    import pyarrow.compute as pc

    n = len(arr)
    if arr.null_count:
        raise ValueError(f"list column holds {arr.null_count} null rows of {n}")
    flat = arr.flatten()  # honours slice offsets, unlike .values
    if flat.null_count:
        raise ValueError(f"list column holds {flat.null_count} null elements")
    vals = flat.to_numpy(zero_copy_only=False)
    if n == 0:
        return vals.reshape(0, 0)
    lens = pc.list_value_length(arr).to_numpy()
    d = int(lens[0])
    if (lens != d).any():
        raise ValueError(
            f"ragged list column: lengths {lens.min()}..{lens.max()} in one batch"
        )
    return vals.reshape(n, d)


def matrix_to_list(mat: np.ndarray):
    """``(n, d)`` numpy array → Arrow list array of ``n`` length-``d``
    lists in the array's dtype: the inverse of ``list_to_matrix``."""
    import pyarrow as pa

    mat = np.ascontiguousarray(mat)
    n, d = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * d)
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))


def apply_network(
    df: DataFrame,
    specs: list[LayerSpec],
    weights: Weights,
    features_col: str = "features",
    output_col: str = "output",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed forward pass: one Arrow batch = one minibatch.

    A ``mapInArrow`` kernel: the batch's feature lists become one ``(n, d)``
    array (``list_to_matrix``), run through ``forward`` and return as one
    float32 list column beside the ``keep_cols`` arrays, which pass through
    untouched. The features cross to Python as ``array<float>``: ``forward``
    computes in float32, and the JVM's double→float cast rounds to nearest
    even exactly as numpy's does, so a double column costs half the bytes
    and gives bitwise the same output. Weights are shipped once per task via
    Spark broadcast; the scan→kernel pipeline is a single narrow stage (no
    shuffle).
    """
    spark = df.sparkSession
    keep_cols = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != features_col
    ]
    df = df.withColumn(features_col, F.col(features_col).cast("array<float>"))
    bc = spark.sparkContext.broadcast(weights)

    out_fields = [df.schema[c] for c in keep_cols]
    out_schema = T.StructType(
        out_fields + [T.StructField(output_col, T.ArrayType(T.FloatType()))]
    )

    def infer(batches: Iterator) -> Iterator:
        import pyarrow as pa

        w = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            y = forward(list_to_matrix(batch.column(features_col)), specs, w)
            out = matrix_to_list(y.reshape(len(y), -1).astype(np.float32, copy=False))
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep_cols] + [out],
                names=keep_cols + [output_col],
            )

    return df.mapInArrow(infer, schema=out_schema)
