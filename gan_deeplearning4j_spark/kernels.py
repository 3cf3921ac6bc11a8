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

At 100 TB: inference is embarrassingly parallel — no shuffle at all, the
kernel pipeline fuses into a single mapInArrow stage over the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import DEFAULT_SEED

Weights = dict[str, dict[str, np.ndarray]]


@dataclass
class LayerSpec:
    """One named layer of a network DAG (the reference's addLayer(name, ...)).

    kinds and cfg keys:
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


def k_maxpool(x: np.ndarray, kernel: int = 2, stride: int = 1) -> np.ndarray:
    """K3: sliding-window max over NCHW (kernel 2×2 stride 1, java:141-144)."""
    n, c, h, w = x.shape
    x4 = x.reshape(n * c, 1, h, w)
    cols, oh, ow = _im2col(x4, kernel, kernel, stride, 0)
    return cols.max(axis=-1).reshape(n, c, oh, ow)


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


# ---------------------------------------------------------------------------
# backward kernels (the training-side halves of K1-K5; RMSProp/clip K8/K9
# live in pipeline.py)
# ---------------------------------------------------------------------------

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


def conv2d_backward(dy: np.ndarray, cache: dict) -> tuple[np.ndarray, dict]:
    """K2 backward. dy: (n, out_c, oh, ow) gradient wrt post-activation.

    For stride 1, dx is the full correlation of ``dpre`` with the flipped,
    channel-transposed kernel: one ``_im2col`` of ``dpre`` padded by
    ``k - 1 - pad`` and one matmul. Strided convs scatter-add their column
    gradients back through ``_col2im``."""
    cols, W, y, stride, pad, x_shape, activation = (
        cache["cols"], cache["W"], cache["y"], cache["stride"], cache["pad"],
        cache["x_shape"], cache["activation"],
    )
    out_c, in_c, kh, kw = W.shape
    dpre = (dy * act_grad(y, activation)).transpose(0, 2, 3, 1)  # (n, oh, ow, oc)
    dW = (
        dpre.reshape(-1, out_c).T @ cols.reshape(-1, cols.shape[-1])
    ).reshape(W.shape)
    db = dpre.sum(axis=(0, 1, 2))
    if stride == 1 and kh == kw and pad < kh:
        dcols, _, _ = _im2col(dpre.transpose(0, 3, 1, 2), kh, kw, 1, kh - 1 - pad)
        w_flip = W[:, :, ::-1, ::-1].transpose(1, 0, 2, 3).reshape(in_c, -1)
        dx = (dcols @ w_flip.T).transpose(0, 3, 1, 2)  # (n, in_c, h, w)
    else:
        dx = _col2im(dpre @ W.reshape(out_c, -1), x_shape, kh, kw, stride, pad)
    return dx, {"W": dW, "b": db}


def maxpool_backward(dy: np.ndarray, cache: dict) -> np.ndarray:
    """K3 backward: route gradient to the (first) max element per window."""
    cols, x_shape, kernel, stride = (
        cache["cols"], cache["x_shape"], cache["kernel"], cache["stride"]
    )
    n, c, h, w = x_shape
    oh, ow = dy.shape[2], dy.shape[3]
    flat = cols.reshape(n * c, oh, ow, kernel * kernel)
    am = flat.argmax(axis=-1)
    dcols = np.zeros_like(flat)
    np.put_along_axis(
        dcols, am[..., None], dy.reshape(n * c, oh, ow, 1), axis=-1
    )
    dx = _col2im(dcols, (n * c, 1, h, w), kernel, kernel, stride, 0)
    return dx.reshape(n, c, h, w)


def upsample_backward(dy: np.ndarray, factor: int) -> np.ndarray:
    """K5 backward: sum-pool the gradient over each f×f block."""
    n, c, H, W = dy.shape
    h, w = H // factor, W // factor
    return dy.reshape(n, c, h, factor, w, factor).sum(axis=(3, 5))


def batchnorm_forward_train(x: np.ndarray, gamma, beta, eps: float = 1e-5):
    """A5 training mode: batch statistics (per-channel for NCHW)."""
    if x.ndim == 4:
        axes, shp = (0, 2, 3), (1, -1, 1, 1)
    else:
        axes, shp = (0,), (1, -1)
    mu = x.mean(axis=axes)
    var = x.var(axis=axes)
    xhat = (x - mu.reshape(shp)) / np.sqrt(var.reshape(shp) + eps)
    y = xhat * gamma.reshape(shp) + beta.reshape(shp)
    cache = {"xhat": xhat, "var": var, "gamma": gamma, "eps": eps,
             "axes": axes, "shp": shp, "m": int(np.prod([x.shape[a] for a in axes]))}
    return y, cache, mu, var


def batchnorm_backward(dy: np.ndarray, cache: dict) -> tuple[np.ndarray, dict]:
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


def forward_cached(
    x: np.ndarray, specs: list[LayerSpec], weights: Weights, training: bool = True
) -> tuple[np.ndarray, list]:
    """K10 forward with per-layer caches for backward. In training mode,
    batchnorm uses batch statistics (the reference's BN layers train on
    batch stats and keep running averages — A5)."""
    out = x.astype(np.float32)
    caches: list = []
    for spec in specs:
        w = weights.get(spec.name, {})
        if spec.kind == "dense":
            in_shape = out.shape
            if out.ndim > 2:
                out = out.reshape(out.shape[0], -1)
            activation = spec.cfg.get("activation", "tanh")
            pre = k_dense(out, w["W"], w["b"])
            y = act(pre, activation)
            caches.append({"kind": "dense", "x": out, "y": y, "W": w["W"],
                           "activation": activation, "in_shape": in_shape})
            out = y
        elif spec.kind == "conv2d":
            stride, pad = spec.cfg.get("stride", 1), spec.cfg.get("pad", 0)
            activation = spec.cfg.get("activation", "tanh")
            out_c, in_c, kh, kw = w["W"].shape
            cols, oh, ow = _im2col(out, kh, kw, stride, pad)
            pre = (cols @ w["W"].reshape(out_c, -1).T + w["b"]).transpose(0, 3, 1, 2)
            y = act(pre, activation)
            caches.append({"kind": "conv2d", "cols": cols, "W": w["W"], "y": y,
                           "stride": stride, "pad": pad, "x_shape": out.shape,
                           "activation": activation})
            out = y
        elif spec.kind == "maxpool":
            kernel, stride = spec.cfg.get("kernel", 2), spec.cfg.get("stride", 1)
            n, c, h, w_ = out.shape
            cols, oh, ow = _im2col(out.reshape(n * c, 1, h, w_), kernel, kernel, stride, 0)
            caches.append({"kind": "maxpool", "cols": cols, "x_shape": out.shape,
                           "kernel": kernel, "stride": stride})
            out = cols.max(axis=-1).reshape(n, c, oh, ow)
        elif spec.kind == "upsample":
            f = spec.cfg.get("factor", 2)
            caches.append({"kind": "upsample", "factor": f})
            out = k_upsample(out, f)
        elif spec.kind == "batchnorm":
            if training:
                y, cache, mu, var = batchnorm_forward_train(
                    out, w["gamma"], w["beta"], spec.cfg.get("eps", 1e-5)
                )
                cache["kind"] = "batchnorm"
                cache["batch_mu"], cache["batch_var"] = mu, var
                caches.append(cache)
                out = y
            else:
                caches.append({"kind": "batchnorm_eval"})
                out = k_batchnorm(out, w["gamma"], w["beta"], w["mean"], w["var"],
                                  spec.cfg.get("eps", 1e-5))
        elif spec.kind == "reshape":
            caches.append({"kind": "reshape", "in_shape": out.shape})
            out = out.reshape(out.shape[0], *spec.cfg["shape"])
        elif spec.kind == "flatten":
            caches.append({"kind": "flatten", "in_shape": out.shape})
            out = out.reshape(out.shape[0], -1)
        else:
            raise ValueError(spec.kind)
    return out, caches


def backward(
    dout: np.ndarray, specs: list[LayerSpec], weights: Weights, caches: list
) -> tuple[Weights, np.ndarray]:
    """Reverse sweep. ``dout`` is dL/d(post-activation of the last layer) for
    non-dense tails, or dL/dpre when the caller already folded the
    activation+loss pair (dense sigmoid-XENT / softmax-MCXENT — pass
    ``dout_is_dpre=True`` semantics by pre-multiplying)."""
    grads: Weights = {}
    d = dout
    for i in range(len(specs) - 1, -1, -1):
        spec, cache = specs[i], caches[i]
        kind = cache["kind"]
        if kind == "dense":
            # d is dL/dpre for the output layer (set by loss pairing) or
            # dL/dy for hidden layers — callers of net_grads handle this by
            # multiplying act_grad before recursing; here we expect dL/dpre.
            dW = cache["x"].T @ d
            db = d.sum(axis=0)
            grads[spec.name] = {"W": dW, "b": db}
            d = d @ cache["W"].T
            if len(cache["in_shape"]) > 2:
                d = d.reshape(cache["in_shape"])
        elif kind == "conv2d":
            d, g = conv2d_backward(d, cache)
            grads[spec.name] = g
        elif kind == "maxpool":
            d = maxpool_backward(d, cache)
        elif kind == "upsample":
            d = upsample_backward(d, cache["factor"])
        elif kind == "batchnorm":
            d, g = batchnorm_backward(d, cache)
            grads[spec.name] = g
        elif kind == "batchnorm_eval":
            raise RuntimeError("cannot backprop through eval-mode batchnorm")
        elif kind == "reshape":
            d = d.reshape(cache["in_shape"])
        elif kind == "flatten":
            d = d.reshape(cache["in_shape"])
        # convention: dense layers receive dL/dpre. After stepping past a
        # layer, if the earlier layer is dense, convert dL/dy → dL/dpre via
        # its activation (conv layers fold their own act_grad internally).
        if i > 0 and specs[i - 1].kind == "dense":
            prev_cache = caches[i - 1]
            d = d * act_grad(prev_cache["y"], prev_cache["activation"])
    return grads, d


# ---------------------------------------------------------------------------
# network forward (K10)
# ---------------------------------------------------------------------------

def init_weights(
    specs: list[LayerSpec], input_dim: int | tuple, seed: int = DEFAULT_SEED
) -> Weights:
    """Xavier init (java:127), deterministic per (seed, layer index).
    ``input_dim``: flat feature count, or an (C, H, W) shape for conv input."""
    weights: Weights = {}
    dim: tuple = (input_dim,) if isinstance(input_dim, int) else tuple(input_dim)
    for i, spec in enumerate(specs):
        rng = np.random.default_rng(seed + i * 1009)
        if spec.kind == "dense":
            fan_in = int(np.prod(dim))
            units = spec.cfg["units"]
            limit = np.sqrt(6.0 / (fan_in + units))
            weights[spec.name] = {
                "W": rng.uniform(-limit, limit, (fan_in, units)).astype(np.float32),
                "b": np.zeros(units, dtype=np.float32),
            }
            dim = (units,)
        elif spec.kind == "conv2d":
            c = dim[0]
            f, k = spec.cfg["filters"], spec.cfg["kernel"]
            limit = np.sqrt(6.0 / (c * k * k + f * k * k))
            weights[spec.name] = {
                "W": rng.uniform(-limit, limit, (f, c, k, k)).astype(np.float32),
                "b": np.zeros(f, dtype=np.float32),
            }
            stride, pad = spec.cfg.get("stride", 1), spec.cfg.get("pad", 0)
            oh = (dim[1] + 2 * pad - k) // stride + 1
            ow = (dim[2] + 2 * pad - k) // stride + 1
            dim = (f, oh, ow)
        elif spec.kind == "batchnorm":
            nf = dim[0] if len(dim) == 3 else int(np.prod(dim))
            weights[spec.name] = {
                "gamma": np.ones(nf, dtype=np.float32),
                "beta": np.zeros(nf, dtype=np.float32),
                "mean": np.zeros(nf, dtype=np.float32),
                "var": np.ones(nf, dtype=np.float32),
            }
        elif spec.kind == "maxpool":
            k, stride = spec.cfg.get("kernel", 2), spec.cfg.get("stride", 1)
            dim = (dim[0], (dim[1] - k) // stride + 1, (dim[2] - k) // stride + 1)
        elif spec.kind == "upsample":
            f = spec.cfg.get("factor", 2)
            dim = (dim[0], dim[1] * f, dim[2] * f)
        elif spec.kind == "reshape":
            dim = tuple(spec.cfg["shape"])
        elif spec.kind == "flatten":
            dim = (int(np.prod(dim)),)
    return weights


def forward(x: np.ndarray, specs: list[LayerSpec], weights: Weights) -> np.ndarray:
    """K10 full forward pass (net.output, java:170 et al.)."""
    out = x.astype(np.float32)
    for spec in specs:
        w = weights.get(spec.name, {})
        if spec.kind == "dense":
            if out.ndim > 2:
                out = out.reshape(out.shape[0], -1)
            out = act(k_dense(out, w["W"], w["b"]), spec.cfg.get("activation", "tanh"))
        elif spec.kind == "conv2d":
            out = act(
                k_conv2d(out, w["W"], w["b"], spec.cfg.get("stride", 1), spec.cfg.get("pad", 0)),
                spec.cfg.get("activation", "tanh"),
            )
        elif spec.kind == "maxpool":
            out = k_maxpool(out, spec.cfg.get("kernel", 2), spec.cfg.get("stride", 1))
        elif spec.kind == "upsample":
            out = k_upsample(out, spec.cfg.get("factor", 2))
        elif spec.kind == "batchnorm":
            out = k_batchnorm(out, w["gamma"], w["beta"], w["mean"], w["var"], spec.cfg.get("eps", 1e-5))
        elif spec.kind == "reshape":
            out = out.reshape(out.shape[0], *spec.cfg["shape"])
        elif spec.kind == "flatten":
            out = out.reshape(out.shape[0], -1)
        else:
            raise ValueError(f"unknown layer kind {spec.kind}")
    return out


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
