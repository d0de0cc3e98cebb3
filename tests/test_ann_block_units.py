"""Spark-free property tests for the ann_round3 block worker.

The end-to-end oracle (emb_knn_graph_ann / _recall) hash-verifies the
full pipeline; these pin the two claims the pipeline's correctness
rests on, directly against brute force on adversarial inputs:

1. DISTRIBUTIVE EXACTNESS — per-node top-k over the union of a node's
   per-block top-k emissions equals top-k over the union of the raw
   blocks, under the exact total order (cos DESC NULLS LAST, NaN
   first, vec_b ASC). This is why _block_topk_fn may emit only k
   neighbors per block without losing an edge.
2. ORDER SEMANTICS — the numpy lexsort keys reproduce the engines'
   ordering on the degenerate inputs: zero vectors (NULL cosine →
   ranked last, emitted as None), NaN elements (NaN cosine → ranked
   first under DESC, like both engines), and exact ties (vec_b ASC).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pytest

from hh_rumors_presto_spark.operators.cosblocks import (
    block_topk_fn as _block_topk_fn,
)
from hh_rumors_presto_spark.queries.ann_round3 import _ANN_K


def _brute_topk(pdf: pd.DataFrame, k: int) -> set[tuple]:
    """Reference: all-pairs cosine in the engines' sequential-fold
    float64 order, per-node top-k under (cos DESC NULLS LAST / NaN
    first, vec_b ASC). Returns {(vec_a, vec_b, cos_repr)}."""
    ids = pdf["vec_id"].tolist()
    embs = [list(map(float, e)) for e in pdf["embedding"]]
    out = set()
    for i, a in enumerate(embs):
        cands = []
        for j, b in enumerate(embs):
            if i == j:
                continue
            acc = 0.0
            na = 0.0
            nb = 0.0
            for d in range(len(a)):
                acc = acc + a[d] * b[d]
                na = na + a[d] * a[d]
                nb = nb + b[d] * b[d]
            denom = math.sqrt(na) * math.sqrt(nb)
            cos = None if denom == 0.0 else acc / denom
            cands.append((ids[j], cos))
        # sort: NULL last; NaN first among valids; cos DESC; id ASC
        def sort_key(t):
            vid, cos = t
            if cos is None:
                return (1, 0.0, vid)
            if isinstance(cos, float) and math.isnan(cos):
                return (0, -math.inf, vid)
            return (0, -cos, vid)

        cands.sort(key=sort_key)
        for vid, cos in cands[:k]:
            rep = (
                "null"
                if cos is None
                else ("nan" if math.isnan(cos) else round(cos, 9))
            )
            out.add((ids[i], vid, rep))
    return out


def _worker_edges(pdf: pd.DataFrame, k: int) -> set[tuple]:
    res = _block_topk_fn(k)(pdf)
    out = set()
    for r in res.itertuples(index=False):
        cos = r.cos_sim
        if cos is None:
            rep = "null"
        elif math.isnan(cos):
            rep = "nan"
        else:
            rep = round(cos, 9)
        out.add((r.vec_a, r.vec_b, rep))
    return out


def _mk_pdf(rows):
    return pd.DataFrame(
        {
            "vec_id": pd.array([r[0] for r in rows], dtype="int64"),
            "label": ["x"] * len(rows),
            "embedding": [r[1] for r in rows],
        }
    )


def test_worker_matches_brute_force_random():
    rng = random.Random(11)
    for trial in range(25):
        m = rng.randint(2, 14)
        dim = rng.choice([2, 3, 8])
        rows = []
        for i in range(m):
            if rng.random() < 0.15:
                emb = [0.0] * dim  # zero vector -> NULL cosine
            else:
                emb = [rng.uniform(-1, 1) for _ in range(dim)]
            rows.append((100 + i, emb))
        pdf = _mk_pdf(rows)
        assert _worker_edges(pdf, _ANN_K) == _brute_topk(pdf, _ANN_K), (
            f"trial {trial}"
        )


def test_worker_exact_tie_breaks_on_id():
    # identical vectors: cos == 1.0 against each other, tie broken by
    # vec_b ASC — node 1's top-2 must be (2, 3), never (4, ...)
    pdf = _mk_pdf([(i, [1.0, 2.0]) for i in (1, 2, 3, 4, 5)])
    edges = _worker_edges(pdf, 2)
    mine = sorted(b for a, b, _ in edges if a == 1)
    assert mine == [2, 3]


def test_worker_nan_ranks_first_null_ranks_last():
    pdf = _mk_pdf(
        [
            (1, [1.0, 0.0]),
            (2, [float("nan"), 1.0]),  # NaN cosine vs everyone
            (3, [0.0, 0.0]),  # NULL cosine vs everyone
            (4, [0.9, 0.1]),
        ]
    )
    edges = _worker_edges(pdf, 2)
    mine = [(b, rep) for a, b, rep in edges if a == 1]
    ranked = sorted(
        mine,
        key=lambda t: (0 if t[1] == "nan" else (2 if t[1] == "null" else 1)),
    )
    # top-2 for node 1: NaN partner first, then the valid cosine; the
    # NULL partner must have been cut by k=2
    assert [b for b, _ in ranked] == [2, 4]
    # and with k=3 the NULL partner appears, as None (true SQL NULL)
    edges3 = _worker_edges(pdf, 3)
    assert (1, 3, "null") in edges3


def test_distributive_topk_across_blocks():
    """Union-of-block-topk then global top-k == global top-k over the
    raw union: split one population into overlapping 'cells', run the
    worker per cell, re-reduce, compare against one-block truth."""
    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(20)
    ]
    whole = _mk_pdf(rows)
    truth = _brute_topk(whole, _ANN_K)

    # overlapping blocks (each node in >= 2 cells), mimicking multi-probe
    blocks = [rows[0:12], rows[6:20], rows[0:4] + rows[10:20]]
    partial = set()
    for blk in blocks:
        partial |= _worker_edges(_mk_pdf(blk), _ANN_K)
    # dedup (same pair from 2 blocks has the same cosine) then top-k
    per_node = {}
    for a, b, rep in partial:
        per_node.setdefault(a, {})[b] = rep

    def sort_key(item):
        b, rep = item
        if rep == "null":
            return (1, 0.0, b)
        if rep == "nan":
            return (0, -math.inf, b)
        return (0, -rep, b)

    reduced = set()
    for a, nbrs in per_node.items():
        for b, rep in sorted(nbrs.items(), key=sort_key)[:_ANN_K]:
            reduced.add((a, b, rep))

    # the reduced set must contain every truth edge whose pair was
    # covered by some shared block (multi-probe coverage), and agree
    # exactly where coverage is total: here every pair of rows[6:12]
    # x anything is covered, so restrict to full-coverage nodes
    cover = {}
    for blk in blocks:
        idset = {r[0] for r in blk}
        for a in idset:
            cover.setdefault(a, set()).update(idset - {a})
    full = {a for a, cs in cover.items() if len(cs) == 19}
    assert {e for e in truth if e[0] in full} == {
        e for e in reduced if e[0] in full
    }


# ---------------------------------------------------------------------------
# r11 additions: row-chunking invariance, label emission, the threshold-pair
# worker, and the vectorized hyperplane-signature dim loop
# ---------------------------------------------------------------------------


def test_worker_chunking_is_bit_invariant():
    """row_chunk only bounds the live matrix; every acc element's add
    order is unchanged, so emissions must be IDENTICAL (not just close)
    for any chunk size."""
    rng = random.Random(42)
    rows = [
        (200 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(23)
    ]
    rows[5] = (205, [0.0] * 8)
    pdf = _mk_pdf(rows)
    base = _block_topk_fn(_ANN_K, row_chunk=10**6)(pdf)
    for chunk in (1, 2, 3, 7, 23):
        got = _block_topk_fn(_ANN_K, row_chunk=chunk)(pdf)
        assert got.values.tolist() == base.values.tolist(), chunk


def test_worker_emit_label_carries_block_label():
    from hh_rumors_presto_spark.operators.cosblocks import (
        block_topk_fn as _block_topk_fn,
    )

    pdf = pd.DataFrame(
        {
            "vec_id": pd.array([1, 2, 3], dtype="int64"),
            "label": pd.array([7, 7, 7], dtype="int32"),
            "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]],
        }
    )
    res = _block_topk_fn(2, emit_label=True)(pdf)
    assert set(res.columns) == {"vec_a", "vec_b", "cos_sim", "label"}
    assert set(res["label"]) == {7}
    # same edges as the label-less worker
    plain = _block_topk_fn(2)(pdf)
    assert res[["vec_a", "vec_b"]].values.tolist() == (
        plain[["vec_a", "vec_b"]].values.tolist()
    )


def test_thresh_pairs_matches_brute_force():
    """dedup_embedding's worker: every in-block pair with vec_a < vec_b
    and cos > t, NULL dropped (NULL > t is not true), NaN kept (both
    engines order NaN above every number)."""
    from hh_rumors_presto_spark.operators.cosblocks import (
        block_thresh_pairs_fn as _block_thresh_pairs_fn,
    )

    rng = random.Random(7)
    for trial in range(20):
        m = rng.randint(2, 12)
        rows = []
        for i in range(m):
            r = rng.random()
            if r < 0.12:
                emb = [0.0, 0.0, 0.0]
            elif r < 0.2:
                emb = [float("nan"), 1.0, 0.0]
            else:
                emb = [rng.uniform(-1, 1) for _ in range(3)]
            rows.append((300 + i, emb))
        pdf = _mk_pdf(rows)
        t = 0.3
        got = {
            (r.vec_a, r.vec_b)
            for r in _block_thresh_pairs_fn(t, row_chunk=rng.choice([2, 64]))(
                pdf
            ).itertuples(index=False)
        }
        ids = pdf["vec_id"].tolist()
        embs = [list(map(float, e)) for e in pdf["embedding"]]
        want = set()
        for i in range(m):
            for j in range(m):
                if ids[i] >= ids[j]:
                    continue
                acc = na = nb = 0.0
                for d in range(3):
                    acc += embs[i][d] * embs[j][d]
                    na += embs[i][d] * embs[i][d]
                    nb += embs[j][d] * embs[j][d]
                denom = math.sqrt(na) * math.sqrt(nb)
                if denom == 0.0:
                    continue  # NULL cosine: NULL > t is not true
                cos = acc / denom
                if math.isnan(cos) or cos > t:
                    want.add((ids[i], ids[j]))
        assert got == want, f"trial {trial}"


def test_plane_sigs_dim_loop_matches_sequential_fold():
    """The vectorized signature generator's dim loop must reproduce the
    sequential left-to-right float64 fold bit-for-bit — the >= 0 sign
    bits AND the raw accumulators."""
    rng = random.Random(3)
    n_tables, n_bits, dim = 4, 5, 16
    planes = [
        [rng.uniform(-1, 1) for _ in range(dim)]
        for _ in range(n_tables * n_bits)
    ]
    embs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    pmat = np.array(planes, dtype="float64")
    emat = np.vstack([np.asarray(e, dtype="float64") for e in embs])
    acc = np.zeros((emat.shape[0], pmat.shape[0]))
    for d in range(dim):
        acc = acc + emat[:, d : d + 1] * pmat[None, :, d]
    for i, e in enumerate(embs):
        for p, plane in enumerate(planes):
            ref = 0.0
            for d in range(dim):
                ref = ref + e[d] * plane[d]
            assert acc[i, p] == ref, (i, p)  # bit-exact, not approx
