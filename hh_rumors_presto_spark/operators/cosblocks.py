"""Sequential-dim cosine kernel and the blocked cosine workers.

BIT-PARITY CONTRACT: Spark's HOF fold (functions/vectors.py) and DuckDB's
``list_inner_product`` both accumulate ``acc = acc + a[d]*b[d]``
left-to-right in float64; :func:`seq_dot` / :func:`seq_sq_norm` replay
that order (loop over DIMS, vectorized rows), so dots, norms and cosines
are bit-identical across all three and near-tie rankings cannot diverge.
No BLAS / ``np.dot``: pairwise summation changes the bits (unlike the
exact-integer GEMMs of pairblocks.py).  The block workers take one block
of (vec_id, embedding[, label]) rows; row chunks bound the live cosine
matrix at chunk x m doubles without changing any element's add order.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROW_CHUNK = 512  # bounds the live cosine matrix at chunk x m doubles


def _empty(dtypes: dict) -> pd.DataFrame:
    # type EVERY column of a degenerate block's frame — untyped empty
    # object columns lean on Arrow's lenient empty cast
    return pd.DataFrame({c: [] for c in dtypes}).astype(dtypes)


def stack(embs) -> np.ndarray:
    """Sequence of equal-length float arrays -> (n, dim) float64 matrix."""
    return np.vstack([np.asarray(e, dtype="float64") for e in embs])


def seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, dim) x (m, dim) -> (n, m) dot products, dims folded left to
    right (the bit-parity contract)."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc = acc + a[:, d : d + 1] * b[None, :, d]
    return acc


def seq_sq_norm(a: np.ndarray) -> np.ndarray:
    """(n, dim) -> (n,) squared L2 norms, dims folded left to right."""
    acc = np.zeros(a.shape[0])
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * a[:, d]
    return acc


def cosine(a: np.ndarray, b: np.ndarray, na: np.ndarray, nb: np.ndarray):
    """Cosines of rows of ``a`` against rows of ``b`` given their norms,
    as ``(cos, invalid)``: acc / (|a| * |b|), the engines' expression
    shape; ``invalid`` marks a zero denominator — the SQL NULL of
    ``nullif(na*nb, 0)`` — where ``cos`` is meaningless."""
    denom = na[:, None] * nb[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return seq_dot(a, b) / denom, denom == 0.0


def desc_key(cos: np.ndarray, invalid: np.ndarray) -> np.ndarray:
    """lexsort key for cos DESC with NaN FIRST (both engines order NaN
    above every number); sort by ``invalid`` before it so NULLs go
    last."""
    key = np.where(invalid, 0.0, -cos)
    return np.where(np.isnan(key) & ~invalid, -np.inf, key)


def cosine_chunks(emat: np.ndarray, row_chunk: int):
    """Yield ``(lo, hi, cos, invalid)`` per row chunk of the all-pairs
    :func:`cosine` of ``emat`` with itself."""
    nrm = np.sqrt(seq_sq_norm(emat))
    for lo in range(0, len(emat), row_chunk):
        hi = min(lo + row_chunk, len(emat))
        yield (lo, hi, *cosine(emat[lo:hi], emat, nrm[lo:hi], nrm))


def label_blocks(emb: DataFrame, worker, schema: str) -> DataFrame:
    """Run ``worker`` once per label block of the embeddings table.  NULL
    labels are filtered out: they never paired under the label
    equi-join these workers replace."""
    return (
        emb.filter(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(worker, schema)
    )


def block_topk_fn(k: int, emit_label: bool = False, row_chunk: int = _ROW_CHUNK):
    """Per-block all-pairs cosine + per-node block-local top-``k``.

    Emitting only each node's block-local top-k is EXACT: top-k of a
    union of blocks equals top-k over the union of per-block top-k's,
    and the total order (cos DESC NULLS LAST with NaN first, vec_b ASC)
    is replayed identically here, in the final window and in the
    oracle.  NULL cosines (zero vectors) stay candidates — with < k
    valid neighbors the engines rank them in — and leave as None, a
    true SQL NULL through Arrow.  ``emit_label`` adds the block's
    label column."""

    dtypes = {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
    if emit_label:
        dtypes["label"] = "int32"

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty(dtypes)
        ids = pdf["vec_id"].to_numpy()
        va, vb, cs_out = [], [], []
        for lo, hi, cos, invalid in cosine_chunks(stack(pdf["embedding"]), row_chunk):
            key = desc_key(cos, invalid)
            diag = np.arange(hi - lo)
            key[diag, lo + diag] = np.inf  # the self-pair sorts dead last
            invalid[diag, lo + diag] = True
            for ci in range(hi - lo):
                i = lo + ci
                # lexsort is last-key-primary: valid first, key, then id
                for j in np.lexsort((ids, key[ci], invalid[ci]))[:k]:
                    if j != i:
                        va.append(int(ids[i]))
                        vb.append(int(ids[j]))
                        cs_out.append(None if invalid[ci, j] else float(cos[ci, j]))
        out = {
            "vec_a": pd.array(va, dtype="int64"),
            "vec_b": pd.array(vb, dtype="int64"),
            "cos_sim": pd.array(cs_out, dtype="object"),
        }
        if emit_label:
            out["label"] = pd.array([pdf["label"].iloc[0]] * len(va), dtype="int32")
        return pd.DataFrame(out)

    return block_topk


def block_thresh_pairs_fn(threshold: float, row_chunk: int = _ROW_CHUNK):
    """Per-block all-pairs cosine THRESHOLD filter: (vec_a, vec_b,
    cos_sim) for every in-block pair with vec_a < vec_b and
    cos_sim > threshold.  NULL cosines drop (NULL > t is not true); NaN
    cosines are KEPT, since both engines order NaN above every number."""

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})
        ids = pdf["vec_id"].to_numpy()
        va, vb, cs_out = [], [], []
        for lo, hi, cos, invalid in cosine_chunks(stack(pdf["embedding"]), row_chunk):
            keep = ~invalid & ((cos > threshold) | np.isnan(cos))
            # upper triangle by ID, not index: vec_a < vec_b
            keep &= ids[lo:hi, None] < ids[None, :]
            for ci, j in zip(*np.nonzero(keep)):
                va.append(int(ids[lo + ci]))
                vb.append(int(ids[j]))
                cs_out.append(float(cos[ci, j]))
        return pd.DataFrame(
            {
                "vec_a": pd.array(va, dtype="int64"),
                "vec_b": pd.array(vb, dtype="int64"),
                "cos_sim": pd.array(cs_out, dtype="float64"),
            }
        )

    return block_pairs


def block_cos_hist_fn(row_chunk: int = _ROW_CHUNK):
    """Per-block cosine histogram: (label, bin, n_pairs) over every
    in-block pair with vec_a < vec_b, bin = floor(cos * 10) — the
    engines' float64 multiply + floor replayed bit-for-bit.  NULL
    cosines (zero-norm vectors) count in the NULL bin exactly as a
    ``GROUP BY floor(cos * 10)`` groups them; NaN cosines land in the
    NULL bin too, matching Spark's non-ANSI floor(NaN) cast to int."""

    def bin_hist(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty({"label": "int32", "bin": "float64", "n_pairs": "int64"})
        ids = pdf["vec_id"].to_numpy()
        counts = Counter()
        for lo, hi, cos, invalid in cosine_chunks(stack(pdf["embedding"]), row_chunk):
            upper = ids[lo:hi, None] < ids[None, :]
            n_null = int(np.count_nonzero(upper & invalid))
            bins = np.floor(cos[upper & ~invalid] * 10)
            n_null += int(np.count_nonzero(np.isnan(bins)))
            if n_null:
                counts[None] += n_null
            uniq, cnt = np.unique(
                bins[~np.isnan(bins)].astype("int64"), return_counts=True
            )
            counts.update(dict(zip(uniq.tolist(), cnt.tolist())))
        rows = sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0]))
        return pd.DataFrame(
            {
                "label": pd.array([pdf["label"].iloc[0]] * len(rows), dtype="int32"),
                "bin": pd.array([b for b, _ in rows], dtype="object"),
                "n_pairs": pd.array([n for _, n in rows], dtype="int64"),
            }
        )

    return bin_hist
