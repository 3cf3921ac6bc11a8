"""Seeded benchmark inputs.

Two input families, both made only from the seed passed on the command line:

- MNIST-shaped digits: class-conditional 28x28 images with values in [0, 1],
  784 features + an integer label, written as headerless ``%.2f`` CSV the way
  the reference notebook exports MNIST (``np.savetxt(..., fmt="%.2f")``).
- A TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``
  with the schemas, value domains and near-duplicate make-up of the engine's
  test corpus, so that the headline queries and their DuckDB oracles run on
  it unchanged.

Nothing here imports Spark; ``python3 perfbench/inputs.py tables <dir> <sf>
<seed>`` writes the tables from a child process so that their build does not
count against the Python driver's peak RSS.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

SIDE = 28
N_FEATURES = SIDE * SIDE
N_CLASSES = 10


# ---------------------------------------------------------------------------
# MNIST-shaped digits
# ---------------------------------------------------------------------------

def _prototypes(seed: int) -> np.ndarray:
    """One stroke image per class: a few thick random polylines drawn inside
    the central 20x20 box, like a handwritten digit's ink mass."""
    rng = np.random.default_rng([seed, 0xD161])
    protos = np.zeros((N_CLASSES, SIDE, SIDE), dtype=np.float64)
    yy, xx = np.mgrid[0:SIDE, 0:SIDE]
    for c in range(N_CLASSES):
        pts = rng.uniform(6, 22, size=(5, 2))
        for (y0, x0), (y1, x1) in zip(pts[:-1], pts[1:]):
            for t in np.linspace(0.0, 1.0, 24):
                cy, cx = y0 + t * (y1 - y0), x0 + t * (x1 - x0)
                d2 = (yy - cy) ** 2 + (xx - cx) ** 2
                protos[c] = np.maximum(protos[c], np.exp(-d2 / 2.0))
    return protos


def make_digits(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` digits: (features float64 [n, 784] rounded to 2 decimals, labels
    int64 [n]). Each sample is its class prototype shifted by up to 2 pixels,
    scaled in intensity and noised, then clipped to [0, 1]. Rounding to the
    CSV's two decimals here makes the in-memory copy equal to what any reader
    parses back from the file."""
    rng = np.random.default_rng([seed, 0xD162])
    protos = _prototypes(seed)
    labels = rng.integers(0, N_CLASSES, size=n)
    shifts = rng.integers(-2, 3, size=(n, 2))
    gain = rng.uniform(0.7, 1.0, size=n)
    imgs = np.empty((n, SIDE, SIDE), dtype=np.float64)
    for i in range(n):
        imgs[i] = np.roll(protos[labels[i]], tuple(shifts[i]), axis=(0, 1)) * gain[i]
    imgs += rng.normal(0.0, 0.05, size=imgs.shape)
    feats = np.clip(imgs.reshape(n, N_FEATURES), 0.0, 1.0)
    feats[feats < 0.1] = 0.0
    return np.round(feats, 2), labels.astype(np.int64)


def write_digits_csv(path: str, feats: np.ndarray, labels: np.ndarray) -> None:
    """Headerless 785-column CSV, 784 pixels then the label, ``%.2f``."""
    np.savetxt(path, np.hstack([feats, labels.reshape(-1, 1)]), fmt="%.2f",
               delimiter=",")


# ---------------------------------------------------------------------------
# TPC-H-like tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a the data spark query table row column key value join group sort "
         "filter scan hash merge window stream batch line order customer part "
         "agg vector small big fast slow").split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def make_tables(sf: float, seed: int) -> dict:
    """Column dicts (numpy arrays) per table at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 0x7AB1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.asarray(REGIONS, dtype=object)}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": nk,
                   "n_name": np.asarray([f"NATION_{i}" for i in nk], dtype=object),
                   "n_regionkey": (nk % 5).astype(np.int32)}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": np.asarray([f"Customer#{i:09d}" for i in ck], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": np.asarray([f"Supplier#{i:09d}" for i in sk], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = {
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": np.asarray([f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                              dtype=object),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(start + rng.integers(0, span, n_ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(0.01 + rng.exponential(50.0, n_ev), 490.0), 2),
        "props": np.asarray([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                            dtype=object),
    }
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> dict:
    """Texts of 10-99 tokens drawn from the corpus' 30-word vocabulary. One
    document in 20, at random positions, is a near-duplicate: a copy of
    another document (possibly itself a copy) with a ``dup`` token appended.
    The engine's test corpus has the same make-up (see perfbench/README.md)."""
    vocab = np.asarray(VOCAB, dtype=object)
    docs = [list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
            for _ in range(n)]
    for i in rng.permutation(n)[: n // 20]:
        src = int(rng.integers(0, n - 1))
        src += src >= i  # any document but i itself
        docs[i] = docs[src] + ["dup"]
    text = np.asarray([" ".join(d) for d in docs], dtype=object)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": np.asarray([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.asarray([len(s) for s in text], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    """Isotropic unit vectors with uniform labels 0-9: in the corpus a label
    has no direction of its own (mean cosine ~0 within and across labels)."""
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": v.astype(np.float32),
            "label": rng.integers(0, N_CLASSES, n).astype(np.int32)}


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """One snappy parquet file per table, one row group, like the corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in make_tables(sf, seed).items():
        arrays = {}
        for col, arr in cols.items():
            if col == "embedding":
                flat = pa.array(arr.ravel(), type=pa.float32())
                arrays[col] = pa.FixedSizeListArray.from_arrays(flat, arr.shape[1]).cast(
                    pa.list_(pa.float32()))
            elif arr.dtype == object:
                arrays[col] = pa.array(arr, type=pa.string())
            else:
                arrays[col] = pa.array(arr)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)


def digest_files(paths: list[str]) -> str:
    """sha256 over the files' names and bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "tables":
        sys.exit("usage: inputs.py tables <out_dir> <sf> <seed>")
    write_tables(sys.argv[2], float(sys.argv[3]), int(sys.argv[4]))
