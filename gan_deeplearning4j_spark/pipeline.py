"""GAN pipeline orchestration (SURVEY §2.9 O1-O5, §2.8 K8; reference entry
point E1 = dl4jGANComputerVision.main :94-621).

Re-expression of the reference's distributed adversarial training:

- O1 graph builder  → ``build_mlp`` producing a list[LayerSpec] (the logical
  plan; named layers like addLayer(name, ...) java:132).
- O3 distributed fit → ``fit_distributed``: workers run local minibatch SGD
  on their shard (map), then the driver takes the element-wise mean of worker
  parameters (reduce) — exactly ParameterAveragingTrainingMaster semantics
  (java:324-330, averagingFrequency=10, batchSizePerWorker=200). The map side
  is ``repartition(n_workers).mapInPandas``: one task per worker, each
  returning its trained tensors as one float32 buffer; the reduce side is a
  fixed-order float64 mean of the N collected buffers in the driver.
- J1 weight sync    → ``copy_weights_dict`` (name-mapped parameter copy,
  java:429-460/:474-510/:516-542); the DataFrame form lives in
  operators/weights.py.
- O2 transfer learning → ``GanPipeline._fit_classifier``: freeze feature layers
  (lr=0, java:84 frozen_learning_rate + :350 setFeatureExtractor), drop the
  old head (:351 removeVertexKeepConnections), add a softmax(10) head
  (:352-363).
- O4 adversarial loop → ``GanPipeline.fit``: dis step on [real+smoothed-1 ∥
  fake+smoothed-0] (java:412-426), sync dis→gan, gan step on (noise, 1)
  fooling batch (:462-471), sync gan→gen, classifier step (:512-545).
- O5 observers      → ``generate_grid`` (latent grid → gen forward → ordered
  image rows, :550-570) and ``predict`` (chunked test inference, :572-597).
- K8 RMSProp        → ``rmsprop_update`` (new RmsProp(lr, 1e-8, 1e-8),
  java:133; decay/epsilon defaults mirror the reference's).

Training scope note: every layer kind trains — ``net_grads`` backpropagates
through dense, conv2d, maxpool, upsample, batchnorm, reshape and flatten
(kernels.backward), so both the MLP GAN and the ``dcgan`` conv topology are
fitted by the same distributed round.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import DEFAULT_SEED
from .kernels import LayerSpec, Weights, clip_grad, forward, init_weights


# ---------------------------------------------------------------------------
# network spec builders (O1)
# ---------------------------------------------------------------------------

def build_mlp(
    prefix: str,
    input_dim: int,
    hidden: list[int],
    out_units: int,
    out_activation: str,
    hidden_activation: str = "tanh",
) -> list[LayerSpec]:
    """Named dense stack: {prefix}_dense_{i} ... {prefix}_output — the naming
    convention the weight-sync maps key on (java:135 'dis_conv2d_layer_2')."""
    specs = []
    for i, units in enumerate(hidden):
        specs.append(
            LayerSpec(
                f"{prefix}_dense_{i}",
                "dense",
                {"units": units, "activation": hidden_activation},
            )
        )
    specs.append(
        LayerSpec(
            f"{prefix}_output", "dense", {"units": out_units, "activation": out_activation}
        )
    )
    return specs


# ---------------------------------------------------------------------------
# local training step: dense backprop + RMSProp (K8) + clip (K9)
# ---------------------------------------------------------------------------

def net_grads(
    x: np.ndarray,
    y: np.ndarray,
    specs: list[LayerSpec],
    weights: Weights,
    bn_momentum: float = 0.9,
) -> tuple[Weights, float]:
    """Backprop through an arbitrary layer stack (dense/conv2d/maxpool/
    upsample/batchnorm/reshape/flatten) via kernels.forward_cached +
    kernels.backward.

    Output-layer loss pairing follows the reference: sigmoid→XENT
    (java:159-163), softmax→MCXENT (:357-363); both give dL/dpre = (p - y)/n,
    which is the convention kernels.backward expects for a dense last layer.

    Side effect: batchnorm running mean/var in ``weights`` are updated with
    the batch statistics (momentum ``bn_momentum``) — the A5 running-average
    contract.
    """
    from .kernels import backward, forward_cached

    x = x.astype(np.float32)
    p, caches = forward_cached(x, specs, weights, training=True)
    eps = 1e-7
    out_act = specs[-1].cfg.get("activation")
    if out_act == "softmax":
        loss = float(-(y * np.log(p + eps)).sum(axis=1).mean())
    else:
        loss = float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean())
    dout = (p - y) / x.shape[0]
    grads, _ = backward(dout, specs, weights, caches)
    for spec, cache in zip(specs, caches):
        if cache.get("kind") == "batchnorm":
            w = weights[spec.name]
            w["mean"] = (bn_momentum * w["mean"] + (1 - bn_momentum) * cache["batch_mu"]).astype(np.float32)
            w["var"] = (bn_momentum * w["var"] + (1 - bn_momentum) * cache["batch_var"]).astype(np.float32)
    return grads, loss


def rmsprop_update(
    weights: Weights,
    grads: Weights,
    cache: Weights,
    lr_by_layer: dict[str, float],
    decay: float = 1e-8,
    eps: float = 1e-8,
    l2: float = 1e-4,
    clip: float = 1.0,
) -> None:
    """K8 in-place update. Defaults mirror the reference: RmsProp(lr, 1e-8,
    1e-8) java:133, L2 1e-4 :125, clip ±1.0 :123-124, frozen layers lr=0.0
    :84 (skipped entirely)."""
    for layer, g in grads.items():
        lr = lr_by_layer.get(layer, 0.0)
        if lr == 0.0:
            continue
        for pname, grad in g.items():
            grad = grad + l2 * weights[layer][pname]
            grad = clip_grad(grad, clip)
            c = cache.setdefault(layer, {}).get(pname)
            c = grad * grad if c is None else decay * c + (1 - decay) * grad * grad
            cache[layer][pname] = c
            weights[layer][pname] = (
                weights[layer][pname] - lr * grad / (np.sqrt(c) + eps)
            ).astype(np.float32)


def copy_weights_dict(dst: Weights, src: Weights, layer_map: dict[str, str]) -> None:
    """J1 parameter copy, dict form (java:429-460). The DataFrame broadcast-
    join form is operators.weights.copy_weights; at weight scale (MB) the
    driver dict is the faster physical plan."""
    for src_layer, dst_layer in layer_map.items():
        if src_layer not in src:
            continue  # parameterless layer (reshape/flatten/pool/upsample)
        dst[dst_layer] = {k: v.copy() for k, v in src[src_layer].items()}


# ---------------------------------------------------------------------------
# distributed fit (O3): map = local SGD per worker shard, reduce = mean of
# the workers' parameter buffers
# ---------------------------------------------------------------------------

@dataclass
class Network:
    specs: list[LayerSpec]
    weights: Weights
    lr_by_layer: dict[str, float]
    cache: Weights = field(default_factory=dict)


def rows_to_weights(rows, like: Weights) -> Weights:
    """Decode one round's collected ``(worker, loss, params)`` rows: the
    float64 element-wise mean of the workers' float32 buffers, summed in the
    order given (worker order), cast to float32 and cut into arrays shaped
    like ``like`` (whose iteration order is the buffers' layout)."""
    flat = np.mean(
        [np.frombuffer(r["params"], dtype=np.float32) for r in rows], axis=0, dtype=np.float64
    ).astype(np.float32)
    out: Weights = {}
    pos = 0
    for layer, params in like.items():
        for pname, arr in params.items():
            out.setdefault(layer, {})[pname] = flat[pos:pos + arr.size].reshape(arr.shape)
            pos += arr.size
    if pos != flat.size:
        raise ValueError(f"parameter buffer holds {flat.size} values, layout expects {pos}")
    return out


def fit_distributed(
    df: DataFrame,
    net: Network,
    n_workers: int = 4,
    local_steps: int = 10,
    batch_size: int = 200,
    features_col: str = "features",
    label_col: str = "label_vec",
    seed: int = DEFAULT_SEED,
) -> float:
    """One averaging round (averagingFrequency=local_steps, java:326):
    shard → local RMSProp steps per worker → element-wise parameter mean.

    ``repartition(n_workers)`` deals the rows round-robin into N equal
    shards; it is a user-sized exchange, so AQE never coalesces it and the
    N local fits run as N tasks. Each worker (its partition id) seeds its
    RNG with ``seed + worker`` and yields one row: its final loss and its
    trainable tensors (layers with lr != 0) as one float32 buffer in
    ``net.weights`` order. Frozen layers never leave the driver.

    Returns the mean final local loss across workers. Updates net.weights
    in place (the reference's TrainingMaster mutates the wrapped net).
    """
    specs, lr_by_layer = net.specs, net.lr_by_layer
    trainable = {l: ps for l, ps in net.weights.items() if lr_by_layer.get(l, 0.0) != 0.0}
    layout = [(l, p) for l, ps in trainable.items() for p in ps]  # names only: arrays ride the broadcast
    bc_w = df.sparkSession.sparkContext.broadcast(net.weights)

    def local_fit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches if len(b)]
        if not frames:
            return  # fewer rows than workers: this shard sits the round out
        pdf = pd.concat(frames, ignore_index=True)
        worker = TaskContext.get().partitionId()
        w = {l: {p: a.copy() for p, a in ps.items()} for l, ps in bc_w.value.items()}
        cache: Weights = {}
        x = np.stack(pdf[features_col].to_numpy()).astype(np.float32)
        y = np.stack(pdf[label_col].to_numpy()).astype(np.float32)
        rng = np.random.default_rng(seed + worker)
        loss = math.nan
        for _ in range(local_steps):
            idx = rng.choice(len(x), size=min(batch_size, len(x)), replace=False)
            grads, loss = net_grads(x[idx], y[idx], specs, w)
            rmsprop_update(w, grads, cache, lr_by_layer)
        buf = np.concatenate([np.ravel(w[l][p]) for l, p in layout]).astype(np.float32)
        yield pd.DataFrame({"worker": [worker], "loss": [loss], "params": [buf.tobytes()]})

    rows = sorted(
        df.repartition(n_workers)
        .mapInPandas(local_fit, "worker int, loss double, params binary")
        .collect(),
        key=lambda r: r["worker"],
    )
    bc_w.unpersist()
    if not rows:
        return math.nan
    for layer, params in rows_to_weights(rows, trainable).items():
        net.weights[layer].update(params)
    return float(np.mean([r["loss"] for r in rows]))


# ---------------------------------------------------------------------------
# the composite pipeline (O2/O4/O5, E1)
# ---------------------------------------------------------------------------

class GanPipeline:
    """The reference's three-graph adversarial pipeline as engine objects.

    dis:  features → hidden → sigmoid(1)        (java:118-165)
    gen:  latent   → hidden → sigmoid(features) (java:173-221)
    gan:  gen ⊕ frozen dis                      (java:228-310)
    cv:   frozen dis features ⊕ softmax head    (java:337-364)
    """

    def __init__(
        self,
        feature_dim: int,
        latent_dim: int = 2,
        dis_hidden: list[int] | None = None,
        gen_hidden: list[int] | None = None,
        n_classes: int = 10,
        dis_lr: float = 0.002,   # java:83
        gen_lr: float = 0.004,   # java:85 (gan_learning_rate drives gen)
        seed: int = DEFAULT_SEED,
    ):
        dis_hidden = dis_hidden or [128, 64]
        gen_hidden = gen_hidden or [64, 128]
        self._wire(
            build_mlp("dis", feature_dim, dis_hidden, 1, "sigmoid"),
            build_mlp("gen", latent_dim, gen_hidden, feature_dim, "sigmoid"),
            feature_dim, feature_dim, latent_dim, n_classes, dis_lr, gen_lr, seed,
        )

    def _wire(self, dis_specs, gen_specs, dis_input, feature_dim, latent_dim,
              n_classes, dis_lr, gen_lr, seed) -> None:
        """Build dis, gen and the gan stack (gen ⊕ frozen dis) from their
        specs, plus the training state that ``fit`` carries across calls."""
        self.feature_dim = feature_dim
        self.latent_dim = latent_dim
        self.n_classes = n_classes
        self.seed = seed
        self.dis = Network(
            dis_specs, init_weights(dis_specs, dis_input, seed),
            {s.name: dis_lr for s in dis_specs},
        )
        self.gen = Network(
            gen_specs, init_weights(gen_specs, latent_dim, seed + 1),
            {s.name: gen_lr for s in gen_specs},
        )
        # gan = gen stack + dis stack with dis frozen (lr 0.0, java:84 + :277-308)
        gan_weights: Weights = {}
        copy_weights_dict(gan_weights, self.gen.weights, {s.name: s.name for s in gen_specs})
        copy_weights_dict(gan_weights, self.dis.weights, {s.name: s.name for s in dis_specs})
        self.gan = Network(
            gen_specs + dis_specs, gan_weights,
            {**{s.name: gen_lr for s in gen_specs}, **{s.name: 0.0 for s in dis_specs}},
        )
        self.cv: Network | None = None
        self.history: list[dict] = []
        self._rng = np.random.default_rng(seed)

    @classmethod
    def dcgan(
        cls,
        side: int = 28,
        latent_dim: int = 2,
        base_filters: int = 64,
        n_classes: int = 10,
        dis_lr: float = 0.002,
        gen_lr: float = 0.004,
        seed: int = DEFAULT_SEED,
    ) -> "GanPipeline":
        """The reference's conv topology family (dl4jGANComputerVision.java):

        dis: (1,S,S) → conv5×5/2 F → conv5×5/2 2F → flatten → dense 256 →
             sigmoid(1)                                   (java:118-165)
        gen: latent → dense 2F·(S/4)² → reshape (2F,S/4,S/4) → up×2 →
             conv5×5 F → up×2 → conv5×5 1 sigmoid → flatten (java:173-221)

        (BatchNorm layers of the reference are representable via
        LayerSpec("...", "batchnorm"); kept out of the default topology for
        step-time economy — add them to the spec lists to match exactly.)
        """
        if side % 4:
            raise ValueError(f"side must be divisible by 4 (two stride/upsample 2s), got {side}")
        f = base_filters
        dis_specs = [
            LayerSpec("dis_reshape", "reshape", {"shape": (1, side, side)}),
            LayerSpec("dis_conv2d_0", "conv2d", {"filters": f, "kernel": 5, "stride": 2, "pad": 2, "activation": "tanh"}),
            LayerSpec("dis_conv2d_1", "conv2d", {"filters": 2 * f, "kernel": 5, "stride": 2, "pad": 2, "activation": "tanh"}),
            LayerSpec("dis_flat", "flatten"),
            LayerSpec("dis_dense_0", "dense", {"units": 256, "activation": "tanh"}),
            LayerSpec("dis_output", "dense", {"units": 1, "activation": "sigmoid"}),
        ]
        q = side // 4
        gen_specs = [
            LayerSpec("gen_dense_0", "dense", {"units": 2 * f * q * q, "activation": "tanh"}),
            LayerSpec("gen_reshape", "reshape", {"shape": (2 * f, q, q)}),
            LayerSpec("gen_up_0", "upsample", {"factor": 2}),
            LayerSpec("gen_conv2d_0", "conv2d", {"filters": f, "kernel": 5, "stride": 1, "pad": 2, "activation": "tanh"}),
            LayerSpec("gen_up_1", "upsample", {"factor": 2}),
            LayerSpec("gen_conv2d_1", "conv2d", {"filters": 1, "kernel": 5, "stride": 1, "pad": 2, "activation": "sigmoid"}),
            LayerSpec("gen_flat", "flatten"),
        ]
        self = cls.__new__(cls)
        self._wire(dis_specs, gen_specs, (1, side, side), side * side, latent_dim,
                   n_classes, dis_lr, gen_lr, seed)
        return self

    # -- O4 steps -----------------------------------------------------------

    def _label_df(self, spark: SparkSession, feats: np.ndarray, label: float, noise_seed: int) -> pd.DataFrame:
        rng = np.random.default_rng(noise_seed)
        # P6 label smoothing: ±N(0, 0.05) (java:405-406); engine default =
        # fresh noise per batch (reference reuses one draw — compat quirk)
        y = label + rng.normal(0, 0.05, (len(feats), 1))
        return pd.DataFrame(
            {"features": list(feats.astype(np.float32)), "label_vec": list(y.astype(np.float32))}
        )

    def _to_df(self, spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
        schema = T.StructType(
            [
                T.StructField("features", T.ArrayType(T.FloatType())),
                T.StructField("label_vec", T.ArrayType(T.FloatType())),
            ]
        )
        return spark.createDataFrame(pdf, schema)

    def fit(
        self,
        spark: SparkSession,
        real: np.ndarray,
        labels: np.ndarray | None = None,
        epochs: int = 2,            # numIterations=2, java:72
        batch_rows: int = 200,      # batchSizePerWorker, java:66
        n_workers: int = 2,
        avg_freq: int = 10,         # averagingFrequency, java:326
    ) -> list[dict]:
        """The adversarial alternation (java:408-621). Resumable: the RNG and
        the epoch count live on the pipeline, so ``fit(epochs=1)`` twice
        trains exactly as ``fit(epochs=2)``."""
        rng = self._rng
        start = len(self.history)
        for epoch in range(start, start + epochs):
            take = rng.choice(len(real), size=min(batch_rows, len(real)), replace=False)
            real_batch = real[take]

            # (a) fake batch via gen forward (K10), uniform latent → [-1,1] (P5)
            z = rng.uniform(0, 1, (len(real_batch), self.latent_dim)) * 2.0 - 1.0
            fake_batch = forward(z.astype(np.float32), self.gen.specs, self.gen.weights)

            # (b) dis fit on [real:1+ε ∥ fake:0+ε] (java:412-426)
            dis_pdf = pd.concat(
                [
                    self._label_df(spark, real_batch, 1.0, self.seed + epoch * 7),
                    self._label_df(spark, fake_batch, 0.0, self.seed + epoch * 7 + 1),
                ],
                ignore_index=True,
            )
            dis_loss = fit_distributed(
                self._to_df(spark, dis_pdf), self.dis, n_workers, avg_freq, batch_rows
            )

            # (c) sync dis → gan (J1, java:429-460)
            copy_weights_dict(
                self.gan.weights, self.dis.weights,
                {s.name: s.name for s in self.dis.specs},
            )

            # (d) gan fit: fooling batch (noise, label 1) (java:462-471)
            z2 = rng.uniform(0, 1, (2 * len(real_batch), self.latent_dim)) * 2.0 - 1.0
            gan_pdf = self._label_df(spark, z2.astype(np.float32), 1.0, self.seed + epoch * 7 + 2)
            gan_loss = fit_distributed(
                self._to_df(spark, gan_pdf), self.gan, n_workers, avg_freq, batch_rows
            )

            # (e) sync gan → gen (J1, java:474-510)
            copy_weights_dict(
                self.gen.weights, self.gan.weights,
                {s.name: s.name for s in self.gen.specs},
            )

            # (f) transfer-learned classifier step (O2 + java:512-545)
            cv_loss = math.nan
            if labels is not None:
                cv_loss = self._fit_classifier(
                    spark, real_batch, labels[take], n_workers, avg_freq, batch_rows
                )

            self.history.append(
                {"epoch": epoch, "dis_loss": dis_loss, "gan_loss": gan_loss, "cv_loss": cv_loss}
            )
        return self.history

    # -- O2 transfer learning ----------------------------------------------

    def _fit_classifier(self, spark, x, y, n_workers, avg_freq, batch_rows) -> float:
        if self.cv is None:
            feature_specs = [
                LayerSpec(s.name.replace("dis_", "cv_"), s.kind, dict(s.cfg))
                for s in self.dis.specs[:-1]  # drop old head (java:351)
            ]
            head = LayerSpec(
                "cv_output", "dense", {"units": self.n_classes, "activation": "softmax"}
            )  # java:357-363
            specs = feature_specs + [head]
            weights = init_weights(specs, self.feature_dim, self.seed + 2)
            lr = {s.name: 0.0 for s in feature_specs}  # frozen (java:84,350)
            lr["cv_output"] = 0.01
            self.cv = Network(specs, weights, lr)
        # sync dis features → cv (J1, java:516-542)
        copy_weights_dict(
            self.cv.weights, self.dis.weights,
            {s.name: s.name.replace("dis_", "cv_") for s in self.dis.specs[:-1]},
        )
        onehot = np.eye(self.n_classes, dtype=np.float32)[np.asarray(y, dtype=int)]
        pdf = pd.DataFrame(
            {"features": list(x.astype(np.float32)), "label_vec": list(onehot)}
        )
        return fit_distributed(
            self._to_df(spark, pdf), self.cv, n_workers, avg_freq, batch_rows
        )

    # -- O5 observers -------------------------------------------------------

    def generate_grid(self, spark: SparkSession, side: int = 10) -> DataFrame:
        """R3 grid → gen forward → ordered rows (java:550-570 / W3)."""
        from .functions.random import latent_grid
        from .kernels import apply_network

        grid = latent_grid(spark, side).select(
            "grid_id", F.array("zi", "zj").cast("array<float>").alias("features")
        )
        out = apply_network(grid, self.gen.specs, self.gen.weights, keep_cols=["grid_id"])
        return out.orderBy("grid_id")

    def write_png_grid(self, spark: SparkSession, path: str,
                       side: int = 10) -> bytes:
        """S12 image sink: render the ``generate_grid`` output as one
        side×side PNG mosaic (gan.ipynb raw 425-438 — the reference's
        matplotlib 10×10 figure of generated digits — re-expressed through
        the engine's own pure-stdlib PNG encoder).

        The collect is bounded by contract (side² rows, one generated image
        each — a sink artifact, not a data path). Generator outputs are in
        tanh/sigmoid range; values are min-max scaled per-mosaic to uint8,
        matching matplotlib's default imshow normalization. Non-square
        outputs take the widest h≤w factorization. Returns the PNG bytes
        (also written to ``path``)."""
        from .functions.imagecodec import encode_png

        rows = self.generate_grid(spark, side).collect()
        vecs = np.asarray(
            [np.asarray(r["output"], dtype=np.float64) for r in rows]
        )
        d = vecs.shape[1]
        h = int(math.sqrt(d))
        while d % h:
            h -= 1
        w = d // h
        lo, hi = float(vecs.min()), float(vecs.max())
        scaled = np.zeros_like(vecs) if hi == lo else (vecs - lo) / (hi - lo)
        tiles = (scaled * 255.0).round().astype(np.uint8).reshape(side, side, h, w)
        mosaic = tiles.transpose(0, 2, 1, 3).reshape(side * h, side * w)
        png = encode_png(mosaic)
        with open(path, "wb") as fh:
            fh.write(png)
        return png

    def predict(self, df: DataFrame, net: Network | None = None,
                features_col: str = "features") -> DataFrame:
        """Chunked distributed inference (java:572-597; chunk = Arrow batch)."""
        from .kernels import apply_network

        net = net or self.cv or self.dis
        return apply_network(df, net.specs, net.weights, features_col=features_col)

    # -- S10 checkpoints ----------------------------------------------------

    def checkpoint(self, spark: SparkSession, path: str) -> None:
        """Weights → parquet + config JSON (engine artifact format; replaces
        ModelSerializer zips, java:605-618).

        ``{net}_weights.parquet`` holds one row per tensor: ``layer``,
        ``param``, ``shape array<int>`` and ``value array<float>``, the
        tensor's values in C order, so ``np.asarray(value, np.float32)
        .reshape(shape)`` rebuilds it bitwise."""
        schema = "layer string, param string, shape array<int>, value array<float>"
        os.makedirs(path, exist_ok=True)
        for name, net in [("dis", self.dis), ("gen", self.gen), ("gan", self.gan)] + (
            [("cv", self.cv)] if self.cv else []
        ):
            rows = [
                (layer, pname, list(arr.shape), np.ravel(arr).astype(np.float32).tolist())
                for layer, params in net.weights.items()
                for pname, arr in params.items()
            ]
            spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
                f"{path}/{name}_weights.parquet"
            )
            cfg = [
                {"name": s.name, "kind": s.kind, "cfg": s.cfg} for s in net.specs
            ]
            with open(f"{path}/{name}_config.json", "w") as f:
                json.dump(cfg, f)
