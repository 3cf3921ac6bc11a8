"""Each benchmark check passes on a good output and fails on a corrupted one.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import checks  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402

# ---------------------------------------------------------------------------
# headline queries: one query row altered
# ---------------------------------------------------------------------------


def _frames():
    oracle = pd.DataFrame({"k": ["a", "b", "c"], "n": [3, 5, 7],
                           "avg_value": [1.234567, 2.5, 63.535313]})
    engine = oracle.sample(frac=1.0, random_state=0)[["avg_value", "n", "k"]].reset_index(drop=True)
    return engine, oracle


def test_oracle_match_ignores_row_and_column_order():
    engine, oracle = _frames()
    assert checks.compare_to_oracle(engine, oracle) == []


@pytest.mark.parametrize("col,value", [("n", 6), ("k", "z"), ("avg_value", 2.51)])
def test_oracle_compare_fails_on_one_altered_row(col, value):
    engine, oracle = _frames()
    engine.loc[engine["k"] == "b", col] = value
    assert checks.compare_to_oracle(engine, oracle)


def test_oracle_compare_fails_on_dropped_row():
    engine, oracle = _frames()
    assert checks.compare_to_oracle(engine.iloc[1:], oracle)


def test_oracle_float_tolerance_is_one_unit_of_the_last_decimal():
    engine, oracle = _frames()
    engine.loc[engine["k"] == "c", "avg_value"] = 63.535312   # a tie rounded the other way
    assert checks.compare_to_oracle(engine, oracle) == []
    engine.loc[engine["k"] == "c", "avg_value"] = 63.535311   # two units off
    assert checks.compare_to_oracle(engine, oracle)


def _docs():
    return pd.DataFrame({"doc_id": [0, 1, 2, 3, 4], "lang": ["en", "de", "en", "fr", "es"],
                         "source": ["s0", "s1", "s2", "s3", "s4"]})


def test_clusters():
    docs = _docs()
    good = pd.DataFrame({"doc_id": [0, 3, 1, 4], "cluster_id": [0, 0, 1, 1],
                         "cluster_size": [2, 2, 2, 2]})
    assert checks.check_clusters(good, docs) == []
    not_min = good.assign(cluster_id=[3, 3, 1, 1])
    assert checks.check_clusters(not_min, docs)
    bad_size = good.assign(cluster_size=[2, 2, 3, 3])
    assert checks.check_clusters(bad_size, docs)


# ---------------------------------------------------------------------------
# GAN training: weights summed instead of averaged
# ---------------------------------------------------------------------------


def _tiny_net():
    from gan_deeplearning4j_spark.kernels import init_weights
    from gan_deeplearning4j_spark.pipeline import build_mlp

    specs = build_mlp("dis", 6, [5], 1, "sigmoid")
    return specs, init_weights(specs, 6, 7), {s.name: 0.002 for s in specs}


def _replay(specs, weights, lr, x, y, steps=10):
    from gan_deeplearning4j_spark.pipeline import net_grads, rmsprop_update

    w = {l: {p: a.copy() for p, a in ps.items()} for l, ps in weights.items()}
    cache: dict = {}
    for _ in range(steps):
        grads, _ = net_grads(x, y, specs, w)
        rmsprop_update(w, grads, cache, lr)
    return w


def test_replay_check_catches_summed_weights():
    specs, w0, lr = _tiny_net()
    x = np.repeat(np.linspace(0, 1, 6, dtype=np.float32).reshape(1, 6), 5, axis=0)
    y = np.ones((5, 1), np.float32)
    replay = _replay(specs, w0, lr, x, y)
    # four workers, each running the same batch of copies of the row
    workers = [_replay(specs, w0, lr, x.copy(), y.copy()) for _ in range(4)]
    averaged = {l: {p: np.mean([w[l][p] for w in workers], axis=0).astype(np.float32)
                    for p in ps} for l, ps in replay.items()}
    summed = {l: {p: np.sum([w[l][p] for w in workers], axis=0).astype(np.float32)
                  for p in ps} for l, ps in replay.items()}
    assert checks.check_replay(averaged, replay) == []
    assert checks.check_replay(summed, replay)


def test_step_bound_catches_summed_updates():
    specs, w0, lr = _tiny_net()
    x = np.random.default_rng(0).random((8, 6)).astype(np.float32)
    y = np.ones((8, 1), np.float32)
    after = _replay(specs, w0, lr, x, y)
    before = {"dis": w0}
    assert checks.check_step_bound(before, {"dis": after}, {"dis": lr}, 10) == []
    # four workers' deltas summed instead of averaged
    summed = {l: {p: w0[l][p] + 4 * (after[l][p] - w0[l][p]) for p in ps} for l, ps in after.items()}
    assert checks.check_step_bound(before, {"dis": summed}, {"dis": lr}, 10)


def test_frozen_layers():
    specs, w0, _ = _tiny_net()
    copy = lambda w: {l: {p: a.copy() for p, a in ps.items()} for l, ps in w.items()}  # noqa: E731
    after = {"dis": copy(w0), "gan": copy(w0),
             "cv": {k.replace("dis_", "cv_"): v for k, v in copy(w0).items()}}
    assert checks.check_frozen(after) == []
    after["gan"]["dis_dense_0"]["W"][0, 0] += np.float32(1e-7)
    assert checks.check_frozen(after)


# ---------------------------------------------------------------------------
# GAN inference: one prediction row dropped
# ---------------------------------------------------------------------------


def _preds(n=20, k=10):
    rng = np.random.default_rng(3)
    logits = rng.normal(size=(n, k))
    p = np.exp(logits) / np.exp(logits).sum(axis=1, keepdims=True)
    return rng.integers(0, k, n), p.astype(np.float32)


def test_predictions_check():
    labels, probs = _preds()
    assert checks.check_predictions(labels, probs, labels, probs) == []
    assert checks.check_predictions(labels[1:], probs[1:], labels, probs)        # row dropped
    swapped = probs.copy()
    swapped[[0, 1]] = swapped[[1, 0]]
    assert checks.check_predictions(labels, swapped, labels, probs)             # rows reordered
    unnormalised = probs * 1.01
    assert checks.check_predictions(labels, unnormalised, labels, unnormalised)  # sums != 1


def test_accuracy_check():
    labels, probs = _preds()
    engine = checks.accuracy_by_label(labels, probs)
    assert checks.check_accuracy(engine, labels, probs) == []
    k = next(iter(engine))
    engine[k] = (engine[k][0], engine[k][1] + 1)
    assert checks.check_accuracy(engine, labels, probs)


def test_png_check_round_trips_the_engine_encoder():
    from gan_deeplearning4j_spark.functions.imagecodec import encode_png

    img = (np.arange(56 * 56) % 256).astype(np.uint8).reshape(56, 56)
    img[0, 0], img[0, 1] = 0, 255
    png = encode_png(img)
    assert np.array_equal(checks.decode_png(png), img)
    assert checks.check_png(png, 2, 28) == []
    assert checks.check_png(png, 3, 28)                      # wrong grid size
    assert checks.check_png(png[:40] + b"\x00" + png[41:], 2, 28)  # corrupted byte


# ---------------------------------------------------------------------------
# harness and inputs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("text,value", [
    ("12.0 B", 12.0), ("1.5 KiB", 1536.0), ("2.0 MiB", 2 * 1024 ** 2),
    ("450 ms", 0.45), ("total (min, med, max (stageId: taskId))\n1.0 KiB (1.0 B, ...)", 1024.0),
    ("1,234", 1234.0),
])
def test_parse_metric(text, value):
    assert harness.parse_metric(text) == pytest.approx(value)


def test_inputs_are_a_function_of_the_seed():
    a, la = inputs.make_digits(5, 30)
    b, lb = inputs.make_digits(5, 30)
    c, _ = inputs.make_digits(6, 30)
    assert np.array_equal(a, b) and np.array_equal(la, lb) and not np.array_equal(a, c)
    assert a.min() >= 0.0 and a.max() <= 1.0 and a.shape == (30, inputs.N_FEATURES)
    t1, t2 = inputs.make_tables(0.001, 9), inputs.make_tables(0.001, 9)
    assert all(np.array_equal(t1["lineitem"][c], t2["lineitem"][c]) for c in t1["lineitem"])
