"""Spark-free tests for operators/cosblocks.py: the sequential-dim kernel
every cosine consumer shares, and the histogram worker.

1. BIT PARITY — seq_dot / seq_sq_norm equal the engines' left-to-right
   float64 fold bit for bit (compared as float.hex, so the sign of zero
   counts too).  block_topk_fn, block_thresh_pairs_fn, block_cos_hist_fn,
   the ANN cell scorer and the hyperplane signatures all reach their
   dots through these two functions.
2. HISTOGRAM — block_cos_hist_fn equals a brute-force histogram over the
   in-block pairs with vec_a < vec_b: bin = floor(cos * 10), zero-norm
   (NULL cosine) and NaN-cosine pairs in the NULL bin, and identical
   output under any row chunk.
"""

from __future__ import annotations

import math
import random
from collections import Counter

import pandas as pd

from hh_rumors_presto_spark.operators.cosblocks import (
    block_cos_hist_fn,
    seq_dot,
    seq_sq_norm,
    stack,
)


def _fold(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _rand_rows(rng: random.Random, n: int, dim: int) -> list[list[float]]:
    rows = []
    for _ in range(n):
        r = rng.random()
        if r < 0.1:
            rows.append([0.0] * dim)
        elif r < 0.2:
            rows.append([-0.0 if d % 2 else 0.0 for d in range(dim)])
        else:
            rows.append([rng.uniform(-1, 1) * 10 ** rng.randint(-3, 3) for _ in range(dim)])
    return rows


def test_seq_kernel_matches_sequential_fold_bitwise():
    rng = random.Random(5)
    for dim in (1, 3, 17, 64):
        a_rows = _rand_rows(rng, 9, dim)
        b_rows = _rand_rows(rng, 6, dim)
        dots = seq_dot(stack(a_rows), stack(b_rows))
        norms = seq_sq_norm(stack(a_rows))
        for i, a in enumerate(a_rows):
            assert norms[i].hex() == _fold(a, a).hex(), (dim, i)
            for j, b in enumerate(b_rows):
                assert dots[i, j].hex() == _fold(a, b).hex(), (dim, i, j)


def _mk_pdf(rows, label=4):
    return pd.DataFrame(
        {
            "vec_id": pd.array([r[0] for r in rows], dtype="int64"),
            "label": pd.array([label] * len(rows), dtype="int32"),
            "embedding": [r[1] for r in rows],
        }
    )


def _brute_hist(rows, label=4) -> list[tuple]:
    counts = Counter()
    for ia, a in rows:
        for ib, b in rows:
            if ia >= ib:
                continue
            denom = math.sqrt(_fold(a, a)) * math.sqrt(_fold(b, b))
            if denom == 0.0:
                counts[None] += 1  # nullif(na*nb, 0): NULL cosine
                continue
            cos = _fold(a, b) / denom
            counts[None if math.isnan(cos) else math.floor(cos * 10)] += 1
    return [
        (label, b, n)
        for b, n in sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0]))
    ]


def test_cos_hist_matches_brute_force_and_is_chunk_invariant():
    rng = random.Random(17)
    for trial in range(20):
        m = rng.randint(2, 16)
        ids = rng.sample(range(1000), m)  # ids not in row order
        rows = []
        for vid in ids:
            r = rng.random()
            if r < 0.12:
                emb = [0.0, 0.0, 0.0, 0.0]
            elif r < 0.2:
                emb = [float("nan"), 1.0, 0.0, 0.5]
            elif r < 0.3:
                emb = [1.0, 2.0, -1.0, 0.5]  # exact duplicates: cos ~ 1.0
            else:
                emb = [rng.uniform(-1, 1) for _ in range(4)]
            rows.append((vid, emb))
        pdf = _mk_pdf(rows)
        want = _brute_hist(rows)
        base = block_cos_hist_fn(row_chunk=10**6)(pdf)
        assert list(base.itertuples(index=False, name=None)) == want, trial
        assert sum(n for _, _, n in want) == m * (m - 1) // 2
        for chunk in (1, 2, 3, 7):
            got = block_cos_hist_fn(row_chunk=chunk)(pdf)
            assert got.values.tolist() == base.values.tolist(), (trial, chunk)


def test_cos_hist_null_and_nan_share_the_null_bin():
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),  # zero norm: NULL cosine with everyone
        (3, [float("nan"), 1.0]),  # NaN cosine with everyone else
        (4, [1.0, 0.0]),  # cos(1, 4) = 1.0 -> bin 10
    ]
    got = block_cos_hist_fn()(_mk_pdf(rows))
    assert list(got.itertuples(index=False, name=None)) == [(4, 10, 1), (4, None, 5)]


def test_cos_hist_degenerate_block_is_typed_empty():
    out = block_cos_hist_fn()(_mk_pdf([(1, [1.0, 2.0])]))
    assert len(out) == 0
    assert list(out.columns) == ["label", "bin", "n_pairs"]
    assert str(out.dtypes["label"]) == "int32"
    assert str(out.dtypes["n_pairs"]) == "int64"
