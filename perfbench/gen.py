#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --workload corpus --seed 7 --out DIR [--tiny]

writes the workload's parquet tables under DIR and a `manifest.json` that
records, per table, its row count and the sha256 of the file, so two runs
can prove they measured the same inputs. The same (workload, seed, size)
always gives byte-identical files.

The tables follow the measured distributions of the engine's sf0.1 test
data (constants below), the way `tools/gen_scale.py` samples them, so
every query's oracle applies unchanged:

- documents: 30-word vocabulary at near-uniform frequency, 10..100 tokens
  per document, five languages at sf0.1's mix, 20 sources round-robin,
  sf0.1's exact-duplicate rate (8/5000) and its 5% "copy + ' dup'"
  near-duplicates, plus gen_scale's 1% token-perturbed near-duplicates;
- embeddings (train only, for the vector-expression probes): random unit
  vectors in 64 dimensions with labels 0..9, sf0.1's recipe;
- lineitem: sf0.1's column ranges and roundings;
- points (train only): dense labelled rows for the Iterate kernels, bias
  term first, labels drawn from a seeded logistic model.
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = np.array([702, 2059, 744, 742, 753], dtype=float) / 5000
N_SOURCES = 20
EXACT_DUP_RATE = 8 / 5000
SUFFIX_DUP_RATE = 250 / 5000
PERTURB_DUP_RATE = 0.01
DIMS = 64
POINT_FEATURES = 20  # including the bias column

# Rows per table. `points` is sized so that an NN iteration is mostly task
# time while an LR iteration stays near the one-job floor; the rest are sized
# so that a run (set-up, two passes, checks) stays near a minute on a 4-core
# host. `tiny` is the set-up input, which warms the codegen and JIT caches
# and feeds the oracle compare.
SIZES = {
    "train": {"points": 200_000, "lineitem": 40_000, "embeddings": 1_000},
    "corpus": {"documents": 4_000},
}
TINY = {
    "train": {"points": 1_000, "lineitem": 1_000, "embeddings": 200},
    "corpus": {"documents": 200},
}


def documents(rng, n):
    lens = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    for _ in range(int(n * PERTURB_DUP_RATE)):
        a, b = rng.integers(0, n, size=2)
        ws = texts[a].split()
        for _ in range(max(1, len(ws) // 20)):
            ws[rng.integers(0, len(ws))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[b] = " ".join(ws)
    for _ in range(int(n * SUFFIX_DUP_RATE)):
        a, b = rng.integers(0, n, size=2)
        texts[b] = texts[a] + " dup"
    for _ in range(max(1, int(n * EXACT_DUP_RATE))):
        a, b = rng.integers(0, n, size=2)
        texts[b] = texts[a]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    x = rng.standard_normal((n, DIMS))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIMS)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32), pa.int32()),
    })


def lineitem(rng, n):
    day0 = np.datetime64("1995-01-02", "us")
    days = (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)
    ship = day0 + rng.integers(0, days + 1, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.68, 104999.91, size=n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, size=n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, size=n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def points(rng, n):
    x = rng.standard_normal((n, POINT_FEATURES))
    x[:, 0] = 1.0
    w = rng.standard_normal(POINT_FEATURES) / np.sqrt(POINT_FEATURES)
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-(x @ w)))).astype(float)
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "label": pa.array(y, pa.float64()),
        "features": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), POINT_FEATURES)
                      .cast(pa.list_(pa.float64())),
    })


MAKERS = {"documents": documents, "embeddings": embeddings,
          "lineitem": lineitem, "points": points}


def generate(workload, seed, out, tiny=False):
    """Write the workload's tables under `out`; return the manifest dict."""
    os.makedirs(out, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "tiny": tiny, "tables": {}}
    sizes = (TINY if tiny else SIZES)[workload]
    for i, (table, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i, int(tiny)])
        t = MAKERS[table](rng, n)
        path = os.path.join(out, f"{table}.parquet")
        # Several row groups per points file, so a scan splits across cores.
        rg = max(1, n // 8) if table == "points" else None
        pq.write_table(t, path, row_group_size=rg)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest["tables"][table] = {"rows": t.num_rows, "sha256": digest}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.tiny), sort_keys=True))


if __name__ == "__main__":
    main()
