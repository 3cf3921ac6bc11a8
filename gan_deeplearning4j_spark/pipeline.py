"""GAN pipeline orchestration (SURVEY §2.9 O1-O5, §2.8 K8; reference entry
point E1 = dl4jGANComputerVision.main :94-621).

Re-expression of the reference's distributed adversarial training:

- O1 graph builder  → ``build_mlp`` producing a list[LayerSpec] (the logical
  plan; named layers like addLayer(name, ...) java:132).
- O3 distributed fit → ``fit_rounds``: workers run local minibatch SGD
  on their shard (map), then the driver takes the element-wise mean of worker
  parameters (reduce) — ParameterAveragingTrainingMaster semantics
  (java:324-330, averagingFrequency=10, batchSizePerWorker=200) for the
  parameters; the RMSProp state is not averaged or carried, which at the
  reference's decay changes no step (see ``fit_distributed``).
  The driver deals worker ``w`` the rows ``w::n`` of each driver-held batch
  and broadcasts every round's weights and shards at once; the map side is
  one ``mapInArrow`` over ``spark.range(n)`` in ``n`` partitions (one stage,
  one task per worker, no shuffle), each task fitting its shard of every
  round and returning its trained tensors as one float32 buffer; the reduce
  side is a fixed-order float64 mean of the N buffers in the driver.
  ``fit_distributed`` collects a DataFrame's rows to the driver in one
  Arrow job and runs them as a one-round ``fit_rounds``, for inputs that
  live in Spark.
- J1 weight sync    → ``copy_weights_dict`` (name-mapped parameter copy,
  java:429-460/:474-510/:516-542); the DataFrame form lives in
  operators/weights.py.
- O2 transfer learning → ``GanPipeline._classifier``: freeze feature layers
  (lr=0, java:84 frozen_learning_rate + :350 setFeatureExtractor), drop the
  old head (:351 removeVertexKeepConnections), add a softmax(10) head
  (:352-363).
- O4 adversarial loop → ``GanPipeline.fit``: dis round on [real+smoothed-1 ∥
  fake+smoothed-0] (java:412-426), sync dis→gan and dis→cv, then the gan
  round on the (noise, 1) fooling batch (:462-471) and the classifier round
  (:512-545) in one job — both start from post-dis weights only — then sync
  gan→gen. Two Spark jobs per epoch, neither with a shuffle.
- O5 observers      → ``generate_grid`` (latent grid → gen forward → ordered
  image rows, :550-570), ``write_png_grid`` (the same rows, collected in one
  job and ordered in the driver, as one PNG mosaic) and ``predict``
  (chunked test inference, :572-597); all three run the ``mapInArrow``
  forward pass of ``kernels.apply_network``.
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
from dataclasses import dataclass
from typing import Collection, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import DEFAULT_SEED
from .kernels import (
    LayerSpec, Weights, backward, clip_grad, forward, forward_cached, init_weights,
    list_to_matrix, update_running_stats,
)


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
    layers: Collection[str] | None = None,
) -> tuple[Weights, float]:
    """Backprop through an arbitrary layer stack (dense/conv2d/maxpool/
    upsample/batchnorm/reshape/flatten) via kernels.forward_cached +
    kernels.backward. ``layers`` names the layers whose gradients are
    wanted (default: all); the backward sweep stops after the earliest.

    Output-layer loss pairing follows the reference: sigmoid→XENT
    (java:159-163), softmax→MCXENT (:357-363); both give dL/dpre = (p - y)/n,
    the output-layer gradient kernels.backward takes.

    Side effect: batchnorm running mean/var in ``weights`` are updated with
    the batch statistics (momentum ``bn_momentum``) — the A5 running-average
    contract.
    """
    x = x.astype(np.float32)
    p, caches = forward_cached(x, specs, weights, training=True)
    eps = 1e-7
    out_act = specs[-1].cfg.get("activation")
    if out_act == "softmax":
        loss = float(-(y * np.log(p + eps)).sum(axis=1).mean())
    else:
        loss = float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean())
    dout = (p - y) / x.shape[0]
    grads, _ = backward(dout, specs, weights, caches, layers)
    update_running_stats(specs, weights, caches, bn_momentum)
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


# one row per worker fit; ``round`` indexes the job's rounds
_FIT_DDL = "round int, worker int, loss double, params binary"
_FIT_SCHEMA = pa.schema([("round", pa.int32()), ("worker", pa.int32()),
                         ("loss", pa.float64()), ("params", pa.binary())])


def _trainable(net: Network) -> Weights:
    """The tensors a round trains and averages (layers with lr != 0), in
    ``net.weights`` order: the layout of every worker's parameter buffer.
    Frozen layers never leave the driver."""
    return {l: ps for l, ps in net.weights.items() if net.lr_by_layer.get(l, 0.0) != 0.0}


def _fit_shard(
    net: Network, x: np.ndarray, y: np.ndarray, worker: int,
    local_steps: int, batch_size: int, seed: int,
) -> tuple[float, bytes] | None:
    """One worker's local fit: ``local_steps`` RMSProp steps on a copy of
    ``net.weights``, each on a minibatch of ``min(batch_size, len(x))``
    shard rows drawn by an RNG seeded ``seed + worker``. Each step's
    backward sweep stops at the earliest trained layer: the classifier
    round backpropagates through its head only.

    Returns the last step's loss and the trained tensors (``_trainable``
    layout) as one float32 buffer; ``None`` for an empty shard, which sits
    the round out (fewer rows than workers)."""
    if not len(x):
        return None
    w = {l: {p: a.copy() for p, a in ps.items()} for l, ps in net.weights.items()}
    trained = _trainable(net)
    cache: Weights = {}
    rng = np.random.default_rng(seed + worker)
    loss = math.nan
    for _ in range(local_steps):
        idx = rng.choice(len(x), size=min(batch_size, len(x)), replace=False)
        grads, loss = net_grads(x[idx], y[idx], net.specs, w, layers=trained)
        rmsprop_update(w, grads, cache, net.lr_by_layer)
    buf = np.concatenate([np.ravel(w[l][p]) for l, ps in trained.items() for p in ps])
    return loss, buf.astype(np.float32).tobytes()


def _fit_rows(fits: list[tuple]) -> pa.RecordBatch:
    """``(round, worker, loss, params)`` tuples → one ``_FIT_SCHEMA`` batch."""
    return pa.RecordBatch.from_pylist(
        [dict(zip(_FIT_SCHEMA.names, f)) for f in fits], schema=_FIT_SCHEMA
    )


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


def _reduce_round(net: Network, rows) -> float:
    """A round's reduce: set ``net``'s trained tensors to the mean of the
    workers' buffers taken in worker order, in place (the reference's
    TrainingMaster mutates the wrapped net). Returns the mean final local
    loss; NaN, with ``net`` untouched, when no worker had rows."""
    if not rows:
        return math.nan
    rows = sorted(rows, key=lambda r: r["worker"])
    for layer, params in rows_to_weights(rows, _trainable(net)).items():
        net.weights[layer].update(params)
    return float(np.mean([r["loss"] for r in rows]))


def fit_rounds(
    spark: SparkSession,
    rounds: list[tuple[Network, np.ndarray, np.ndarray]],
    n_workers: int = 4,
    local_steps: int = 10,
    batch_size: int = 200,
    seed: int = DEFAULT_SEED,
) -> list[float]:
    """Independent averaging rounds (averagingFrequency=local_steps,
    java:326) over driver-held ``(net, x, y)`` batches, as one Spark job.

    The driver deals worker ``w`` the rows ``w::n_workers`` of each batch
    and ships every round's network and shards in one broadcast. The job is
    ``spark.range(n_workers)`` in ``n_workers`` partitions under one
    ``mapInArrow``: one stage of one task per worker, no shuffle. Each task
    fits its shard of every round (``_fit_shard``) and yields one
    ``(round, worker, loss, params)`` row per fit; the driver reduces each
    round with ``rows_to_weights``.

    The rounds must be independent: each starts from the weights its net
    holds on the call. Returns each round's mean final local loss and
    updates each net's weights in place."""
    payload = []
    for net, x, y in rounds:
        x, y = np.asarray(x, np.float32), np.asarray(y, np.float32)
        payload.append((net, [(x[w::n_workers], y[w::n_workers]) for w in range(n_workers)]))
    bc = spark.sparkContext.broadcast(payload)

    def fit_workers(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for worker in batch.column("id").to_pylist():
                fits = []
                for r, (net, shards) in enumerate(bc.value):
                    fit = _fit_shard(net, *shards[worker], worker, local_steps, batch_size, seed)
                    if fit is not None:
                        fits.append((r, worker, *fit))
                if fits:
                    yield _fit_rows(fits)

    rows = spark.range(0, n_workers, 1, n_workers).mapInArrow(fit_workers, _FIT_DDL).collect()
    bc.unpersist()
    return [
        _reduce_round(net, [row for row in rows if row["round"] == r])
        for r, (net, _, _) in enumerate(rounds)
    ]


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
    """One averaging round over a DataFrame's rows, for inputs that live in
    Spark (micro-batches of ``streaming.train``).

    The rows come to the driver in one ``toArrow()`` job, become two
    ``(n, d)`` arrays (``list_to_matrix``) and run as a one-round
    ``fit_rounds``: the same kernel, deal (worker ``w`` fits rows
    ``w::n_workers``) and reduce as the pipeline's driver-held batches.
    The driver holds one round's rows, as it does for those batches; a
    streaming micro-batch is bounded by its trigger.

    Every round starts RMSProp from an empty cache on every worker, where
    the reference's ParameterAveragingTrainingMaster averages the updater
    state across workers and carries it into the next round. With the
    reference's decay of 1e-8 the cache is g² after every step, carried or
    not, so every local step is about ``lr · sign(g)`` either way. Measured
    on dcgan(base_filters=4), epoch-20 held-out accuracy for seeds 2-4 read
    0.771/0.834/0.744 with an averaged, carried cache and 0.790/0.868/0.848
    without it.

    Returns the mean final local loss across workers. Updates net.weights
    in place.
    """
    rows = df.select(features_col, label_col).toArrow()
    x, y = (list_to_matrix(rows.column(c).combine_chunks()) for c in (features_col, label_col))
    return fit_rounds(df.sparkSession, [(net, x, y)], n_workers, local_steps, batch_size, seed)[0]


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

    @staticmethod
    def _smoothed(n: int, label: float, noise_seed: int) -> np.ndarray:
        """P6 label smoothing: ``label`` ± N(0, 0.05) (java:405-406); engine
        default = fresh noise per batch (reference reuses one draw — compat
        quirk)."""
        return label + np.random.default_rng(noise_seed).normal(0, 0.05, (n, 1))

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

            # (b) dis round on [real:1+ε ∥ fake:0+ε] (java:412-426)
            (dis_loss,) = fit_rounds(spark, [(
                self.dis,
                np.concatenate([real_batch, fake_batch]),
                np.concatenate([
                    self._smoothed(len(real_batch), 1.0, self.seed + epoch * 7),
                    self._smoothed(len(fake_batch), 0.0, self.seed + epoch * 7 + 1),
                ]),
            )], n_workers, avg_freq, batch_rows)

            # (c) sync dis → gan (J1, java:429-460)
            copy_weights_dict(
                self.gan.weights, self.dis.weights,
                {s.name: s.name for s in self.dis.specs},
            )

            # (d) gan round: fooling batch (noise, label 1) (java:462-471),
            # and (f) the transfer-learned classifier round (O2 +
            # java:512-545) in the same job: both start from the post-dis
            # weights only, so fusing them changes no result
            z2 = rng.uniform(0, 1, (2 * len(real_batch), self.latent_dim)) * 2.0 - 1.0
            rounds = [(self.gan, z2, self._smoothed(len(z2), 1.0, self.seed + epoch * 7 + 2))]
            if labels is not None:
                onehot = np.eye(self.n_classes, dtype=np.float32)[np.asarray(labels[take], dtype=int)]
                rounds.append((self._classifier(), real_batch, onehot))
            losses = fit_rounds(spark, rounds, n_workers, avg_freq, batch_rows)
            gan_loss = losses[0]
            cv_loss = losses[1] if labels is not None else math.nan

            # (e) sync gan → gen (J1, java:474-510)
            copy_weights_dict(
                self.gen.weights, self.gan.weights,
                {s.name: s.name for s in self.gen.specs},
            )

            self.history.append(
                {"epoch": epoch, "dis_loss": dis_loss, "gan_loss": gan_loss, "cv_loss": cv_loss}
            )
        return self.history

    # -- O2 transfer learning ----------------------------------------------

    def _classifier(self) -> Network:
        """The cv net, built on first use, with the dis feature layers
        synced into it (J1, java:516-542)."""
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
        copy_weights_dict(
            self.cv.weights, self.dis.weights,
            {s.name: s.name.replace("dis_", "cv_") for s in self.dis.specs[:-1]},
        )
        return self.cv

    # -- O5 observers -------------------------------------------------------

    def _grid_frame(self, spark: SparkSession, side: int) -> DataFrame:
        """R3 grid → gen forward, ``(grid_id, output)`` rows in no set order."""
        from .functions.random import latent_grid
        from .kernels import apply_network

        grid = latent_grid(spark, side).select(
            "grid_id", F.array("zi", "zj").cast("array<float>").alias("features")
        )
        return apply_network(grid, self.gen.specs, self.gen.weights, keep_cols=["grid_id"])

    def generate_grid(self, spark: SparkSession, side: int = 10) -> DataFrame:
        """R3 grid → gen forward → ordered rows (java:550-570 / W3)."""
        return self._grid_frame(spark, side).orderBy("grid_id")

    def write_png_grid(self, spark: SparkSession, path: str,
                       side: int = 10) -> bytes:
        """S12 image sink: render the ``generate_grid`` rows as one
        side×side PNG mosaic (gan.ipynb raw 425-438 — the reference's
        matplotlib 10×10 figure of generated digits — re-expressed through
        the engine's own pure-stdlib PNG encoder).

        The collect is bounded by contract (side² rows, one generated image
        each — a sink artifact, not a data path), so it runs as one job on
        the unordered grid and the driver orders the rows by ``grid_id``; a
        distributed sort would add a sampling job and a range shuffle for
        side² rows. Generator outputs are in
        tanh/sigmoid range; values are min-max scaled per-mosaic to uint8,
        matching matplotlib's default imshow normalization. Non-square
        outputs take the widest h≤w factorization. Returns the PNG bytes
        (also written to ``path``)."""
        from .functions.imagecodec import encode_png

        rows = sorted(self._grid_frame(spark, side).collect(), key=lambda r: r["grid_id"])
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
