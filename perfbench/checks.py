"""Correctness checks, as pure functions over outputs.

Each check compares the program's output with a computation made apart from
it (a DuckDB oracle, a numpy replay in the driver, a decoder written here) or
with a property the method must have. None compares with a stored copy of an
earlier output. A check returns a list of failure messages; empty means it
passed. ``perfbench/tests`` feeds each one a corrupted output.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# headline queries
# ---------------------------------------------------------------------------


def _decimals(v: float) -> int:
    text = repr(float(v))
    if "e" in text or "E" in text:
        return 17
    return len(text.split(".", 1)[1]) if "." in text else 0


def _cell_equal(a, b, unit: float = 0.0) -> bool:
    """Cells match when equal; floats also match when they differ by at most
    ``unit``, one unit in the last decimal the oracle prints for the column.
    Both engines sum doubles in an order of their own choosing, so a
    ROUND(x, d) that lands on a tie can come out one unit apart."""
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return fa == fb or abs(fa - fb) <= unit * (1 + 1e-9) + 4 * math.ulp(max(abs(fa), abs(fb)))
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(_cell_equal(x, y) for x, y in zip(la, lb))
    if isinstance(a, (int, np.integer)) and isinstance(b, (int, np.integer)):
        return int(a) == int(b)
    return str(a) == str(b)


def _column_unit(values) -> float:
    """10^-d for the most decimals any float of the column shows (0 when the
    column holds no floats)."""
    d = -1
    for v in values:
        if isinstance(v, (float, np.floating)) and math.isfinite(v):
            d = max(d, _decimals(v))
    return 0.0 if d < 0 else 10.0 ** -d


def _sort_key(row) -> tuple:
    """Exact cells first, then floats coarsely rounded, so that rows whose
    floats differ by the tolerance above still pair up after sorting."""
    exact, coarse = [], []
    for v in row:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            exact.append((0, ""))
        elif isinstance(v, (float, np.floating)):
            coarse.append(round(float(v), 3))
        elif isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            exact.append((1, int(v)))
        else:
            exact.append((2, str(v)))
    return tuple(exact) + tuple(coarse)


def compare_to_oracle(engine_df, oracle_df) -> list[str]:
    """Same column set and the same multiset of rows (see ``_cell_equal``)."""
    ec, oc = sorted(engine_df.columns), sorted(oracle_df.columns)
    if ec != oc:
        return [f"columns differ: engine {ec} oracle {oc}"]
    if len(engine_df) != len(oracle_df):
        return [f"row count differs: engine {len(engine_df)} oracle {len(oracle_df)}"]
    er = sorted((tuple(r) for r in engine_df[ec].itertuples(index=False)), key=_sort_key)
    orr = sorted((tuple(r) for r in oracle_df[ec].itertuples(index=False)), key=_sort_key)
    units = [_column_unit(oracle_df[c].tolist()) for c in ec]
    bad = [i for i, (x, y) in enumerate(zip(er, orr))
           if not all(_cell_equal(a, b, u) for a, b, u in zip(x, y, units))]
    if bad:
        return [f"{len(bad)} row(s) differ, first engine {er[bad[0]]} oracle {orr[bad[0]]}"]
    return []


def check_clusters(clusters, documents) -> list[str]:
    """dedup_clusters: every cluster id is its minimum member, cluster_size is
    the member count, and each document appears at most once."""
    errs = []
    ids = clusters["doc_id"].to_numpy()
    if len(set(ids.tolist())) != len(ids):
        errs.append("doc_id appears in more than one row")
    if not set(ids.tolist()) <= set(documents["doc_id"].tolist()):
        errs.append("cluster member not in documents")
    groups = clusters.groupby("cluster_id")
    mins = groups["doc_id"].min()
    if not (mins.index.to_numpy() == mins.to_numpy()).all():
        errs.append("a cluster id is not its minimum member")
    counts = groups["doc_id"].count()
    sizes = groups["cluster_size"].agg(["min", "max"])
    if not ((sizes["min"] == sizes["max"]) & (sizes["max"] == counts)).all():
        errs.append("cluster_size differs from the member count")
    if len(clusters) and counts.min() < 2:
        errs.append("a cluster has fewer than two members")
    return errs


# ---------------------------------------------------------------------------
# GAN training
# ---------------------------------------------------------------------------


def check_frozen(after: dict) -> list[str]:
    """Layers with lr 0 are bitwise equal to the weights they were synced
    from: the gan net's dis layers to dis, the classifier's feature layers
    to dis's."""
    errs = []
    dis = after["dis"]
    for layer, params in after["gan"].items():
        if layer.startswith("dis_"):
            for p, arr in params.items():
                if not np.array_equal(arr, dis[layer][p]):
                    errs.append(f"gan frozen layer {layer}.{p} moved")
    for layer, params in after.get("cv", {}).items():
        src = layer.replace("cv_", "dis_", 1)
        if layer != "cv_output" and src in dis:
            for p, arr in params.items():
                if not np.array_equal(arr, dis[src][p]):
                    errs.append(f"classifier frozen layer {layer}.{p} moved")
    return errs


def max_step_excess(before: dict, after: dict, lr: float, steps: int) -> float:
    """Largest amount by which any weight moved beyond ``steps * lr``.

    RmsProp(lr, 1e-8, 1e-8) divides the gradient by sqrt of a running mean
    of its square that is at least (1 - 1e-8) g^2, so a step is at most
    lr (1 + 1e-8); a mean over workers cannot exceed its largest member.
    The slack allows float32 rounding of each of the ``steps`` updates and
    of the average."""
    worst = -math.inf
    for p, b in before.items():
        a = after[p]
        slack = steps * lr * 1e-6 + (steps + 2) * np.spacing(np.maximum(np.abs(a), np.abs(b)))
        worst = max(worst, float(np.max(np.abs(a.astype(np.float64) - b) - steps * lr - slack)))
    return worst


def check_step_bound(before: dict, after: dict, lr_by_net: dict, steps: int) -> list[str]:
    """Every trainable weight moves by at most steps * lr in a round."""
    errs = []
    for net, layers in lr_by_net.items():
        for layer, lr in layers.items():
            if lr == 0.0 or layer not in before.get(net, {}):
                continue
            excess = max_step_excess(before[net][layer], after[net][layer], lr, steps)
            if excess > 0:
                errs.append(f"{net}.{layer} moved {excess:.3g} beyond {steps} x lr {lr}")
    return errs


def check_replay(averaged: dict, replay: dict, rel: float = 1e-6) -> list[str]:
    """On a shard of one repeated row, where every worker's batch holds the
    same number of copies, every worker takes the replay's exact steps, so
    the averaged weights equal the driver-side replay up to the float32
    rounding of the average (relative to the layer's scale)."""
    errs = []
    for layer, params in replay.items():
        for p, r in params.items():
            a = averaged[layer][p]
            scale = float(np.max(np.abs(r))) or 1.0
            diff = float(np.max(np.abs(a.astype(np.float64) - r)))
            if diff > rel * scale:
                errs.append(f"{layer}.{p} differs from the replay by {diff:.3g} "
                            f"(scale {scale:.3g})")
    return errs


# ---------------------------------------------------------------------------
# GAN inference
# ---------------------------------------------------------------------------


def check_predictions(pred_labels, pred_probs, labels, driver_probs,
                      atol: float = 1e-5) -> list[str]:
    """The CSV read back from disk equals the driver's forward pass on the
    same rows, in the same order, and each probability row sums to 1."""
    errs = []
    if len(pred_labels) != len(labels):
        return [f"{len(pred_labels)} prediction rows for {len(labels)} input rows"]
    if not np.array_equal(np.asarray(pred_labels, dtype=np.int64),
                          np.asarray(labels, dtype=np.int64)):
        errs.append("prediction labels are not the input labels in input order")
    diff = float(np.max(np.abs(np.asarray(pred_probs, np.float64) - driver_probs)))
    if diff > atol:
        errs.append(f"probabilities differ from the driver forward pass by {diff:.3g}")
    sums = np.asarray(pred_probs, np.float64).sum(axis=1)
    if float(np.max(np.abs(sums - 1.0))) > atol:
        errs.append(f"a probability row sums to {sums[np.argmax(np.abs(sums - 1))]:.6f}")
    return errs


def accuracy_by_label(labels, probs) -> dict[int, tuple[int, int]]:
    """label -> (n, n_correct), argmax with first-occurrence ties."""
    labels = np.asarray(labels, dtype=np.int64)
    correct = np.argmax(np.asarray(probs), axis=1) == labels
    return {int(k): (int((labels == k).sum()), int(correct[labels == k].sum()))
            for k in np.unique(labels)}


def check_accuracy(engine: dict, labels, probs) -> list[str]:
    expect = accuracy_by_label(labels, probs)
    if engine != expect:
        return [f"per-label accuracy {engine} differs from numpy's {expect}"]
    return []


def decode_png(data: bytes) -> np.ndarray:
    """8-bit greyscale PNG -> uint8 (H, W); all five row filters."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, ihdr = 8, b"", None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        pos += 12 + length
    if ihdr is None:
        raise ValueError("no IHDR")
    w, h, depth, color = ihdr[:4]
    if depth != 8 or color != 0:
        raise ValueError(f"unsupported depth {depth} / colour type {color}")
    raw = zlib.decompress(idat)
    if len(raw) != h * (w + 1):
        raise ValueError(f"{len(raw)} bytes of image data for {w}x{h}")
    out = np.zeros((h, w), dtype=np.int32)
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        f = raw[y * (w + 1)]
        line = np.frombuffer(raw, np.uint8, w, y * (w + 1) + 1).astype(np.int32)
        cur = np.zeros(w, dtype=np.int32)
        for x in range(w):
            a = cur[x - 1] if x else 0
            b, c = prev[x], prev[x - 1] if x else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            else:
                raise ValueError(f"bad filter {f}")
            cur[x] = (line[x] + pred) & 0xFF
        out[y] = cur
        prev = cur
    return out.astype(np.uint8)


def check_png(data: bytes, side: int, tile: int) -> list[str]:
    """The grid decodes to side*tile pixels square, min-max scaled to 0..255."""
    try:
        img = decode_png(data)
    except ValueError as exc:
        return [f"PNG does not decode: {exc}"]
    errs = []
    if img.shape != (side * tile, side * tile):
        errs.append(f"PNG is {img.shape}, expected {(side * tile, side * tile)}")
    elif int(img.min()) != 0 or int(img.max()) != 255:
        errs.append(f"PNG values span {int(img.min())}..{int(img.max())}, expected 0..255")
    return errs
