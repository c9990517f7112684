"""Vector kernels over Arrow batches (``mapInArrow``): PQ encode, PQ
ADC + exact-L2² scoring, and pair cosine.

Every kernel reproduces the IEEE-double op order of the DuckDB oracle's
folds, so results are bit-identical to it:

- float32 -> float64 widening is exact, in numpy as in SQL ``CAST``;
- a subspace distance to a codeword is the left-associated sum
  ``((t0 + t1) + t2) + ...`` of ``t = (x - c) * (x - c)``, accumulated
  position by position and vectorized across rows (each numpy
  elementwise op is the same scalar binary64 op per lane);
- the code of a subspace is the argmin of those distances, ties going
  to the LOWER code id (``np.argmin`` returns the first minimum; the
  oracle orders by ``(d, cb_id)``);
- an ADC distance adds the ``m`` lookup-table terms left to right;
- exact L2² and dot products are zero-seeded left folds over the
  dimension.

A row whose vector is NULL, holds a NULL element, or has the wrong
length gets a NULL result (codes, distance or similarity) instead of
failing the task or producing a wrong code.

This module imports only numpy, pyarrow and pyspark's cloudpickle, and
registers itself to be pickled by value: the kernels then reach Python
workers with the task, whatever directory the driver started in and
whether or not the package is on the workers' path.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _matrix(arr, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """``(vectors, ok)`` for one list column: an ``(n, dim)`` float64
    matrix and a mask of the rows that hold a complete ``dim``-long
    vector. Rows that are not ok are zero in the matrix."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = pc.list_value_length(arr).fill_null(-1).to_numpy(zero_copy_only=False)
    ok = lens == dim
    out = np.zeros((len(arr), dim), dtype=np.float64)
    k = int(ok.sum())
    if k:
        flat = arr.filter(pa.array(ok)).flatten()
        bad = pc.is_null(flat).to_numpy(zero_copy_only=False).reshape(k, dim).any(axis=1)
        out[ok] = np.asarray(
            flat.fill_null(0).to_numpy(zero_copy_only=False), dtype=np.float64
        ).reshape(k, dim)
        idx = np.flatnonzero(ok)
        ok[idx[bad]] = False
        out[idx[bad]] = 0.0
    return out, ok


def _encode(v: np.ndarray, cb: np.ndarray, m: int) -> np.ndarray:
    """``(n, m)`` PQ code ids of the rows of ``v`` against codebook
    ``cb`` (``(ks, dim)``): per subspace, the nearest codeword by the
    seedless left-fold L2², lower id on ties."""
    dsub = cb.shape[1] // m
    codes = np.empty((v.shape[0], m), dtype=np.int32)
    for j in range(m):
        s = slice(j * dsub, (j + 1) * dsub)
        t = v[:, None, s] - cb[None, :, s]  # (n, ks, dsub)
        t = t * t
        acc = t[:, :, 0]
        for i in range(1, dsub):
            acc = acc + t[:, :, i]
        # NaN sorts above every number in Spark and DuckDB orderings
        codes[:, j] = np.argmin(np.where(np.isnan(acc), np.inf, acc), axis=1)
    return codes


def _fold_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    acc = np.zeros(x.shape[0], dtype=np.float64)  # the fold's 0.0 seed
    for i in range(x.shape[1]):
        acc = acc + x[:, i] * y[:, i]
    return acc


def _codes_array(codes: np.ndarray, ok: np.ndarray) -> pa.Array:
    """``list<int32>`` array of the code rows, NULL where not ok."""
    n, m = codes.shape
    offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(codes.reshape(-1)), mask=pa.array(~ok)
    )


def pq_encoder(codebook: list[list[float]], m: int):
    """``mapInArrow`` function: ``(vec_id, label, embedding)`` batches to
    ``vec_id long, label int, codes array<int>``, each vector encoded
    against ``codebook`` in ``m`` subspaces."""
    cb = np.asarray(codebook, dtype=np.float64)

    def encode(batches):
        for b in batches:
            v, ok = _matrix(b.column("embedding"), cb.shape[1])
            yield pa.record_batch(
                [
                    b.column("vec_id").cast(pa.int64()),
                    b.column("label").cast(pa.int32()),
                    _codes_array(_encode(v, cb, m), ok),
                ],
                names=["vec_id", "label", "codes"],
            )

    return encode


def pq_scorer(q: list[float], codebook: list[list[float]],
              lut: list[list[float]], m: int):
    """``mapInArrow`` function for the PQ audit scan: ``(vec_id,
    embedding)`` batches to ``vec_id long, adist double, edist double``
    — each vector's ADC distance to ``q`` through its codes and the
    lookup table ``lut`` (``lut[j][c]`` = L2² of ``q``'s subspace ``j``
    to codeword ``c``), and its exact L2² to ``q``."""
    cb = np.asarray(codebook, dtype=np.float64)
    qv = np.asarray(q, dtype=np.float64)
    lut_np = np.asarray(lut, dtype=np.float64)

    def score(batches):
        for b in batches:
            v, ok = _matrix(b.column("embedding"), qv.shape[0])
            edist = np.zeros(v.shape[0], dtype=np.float64)
            for i in range(v.shape[1]):
                t = v[:, i] - qv[i]
                edist = edist + t * t
            codes = _encode(v, cb, m)
            adist = lut_np[0, codes[:, 0]]
            for j in range(1, m):
                adist = adist + lut_np[j, codes[:, j]]
            yield pa.record_batch(
                [
                    b.column("vec_id").cast(pa.int64()),
                    pa.array(adist, mask=~ok),
                    pa.array(edist, mask=~ok),
                ],
                names=["vec_id", "adist", "edist"],
            )

    return score


def cosine_pairs():
    """``mapInArrow`` function: ``(id_a, id_b, va, vb)`` pair batches to
    ``id_a long, id_b long, sim_raw double`` with ``sim_raw =
    dot(va, vb) / (sqrt(dot(va, va)) * sqrt(dot(vb, vb)))``. NULL when
    the two vectors differ in length or either is incomplete, and when
    the denominator is zero (``try_divide`` / DuckDB semantics)."""

    def score(batches):
        for b in batches:
            va, vb = b.column("va"), b.column("vb")
            la = pc.list_value_length(va).fill_null(-1).to_numpy(zero_copy_only=False)
            lb = pc.list_value_length(vb).fill_null(-2).to_numpy(zero_copy_only=False)
            sim = np.zeros(b.num_rows, dtype=np.float64)
            ok = np.zeros(b.num_rows, dtype=bool)
            for dim in np.unique(la[la == lb]):
                rows = (la == dim) & (lb == dim)
                sel = pa.array(rows)
                xa, oka = _matrix(va.filter(sel), int(dim))
                xb, okb = _matrix(vb.filter(sel), int(dim))
                num = _fold_dot(xa, xb)
                den = np.sqrt(_fold_dot(xa, xa)) * np.sqrt(_fold_dot(xb, xb))
                good = oka & okb & (den != 0.0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim[rows] = np.where(good, num / den, 0.0)
                ok[rows] = good
            yield pa.record_batch(
                [
                    b.column("id_a").cast(pa.int64()),
                    b.column("id_b").cast(pa.int64()),
                    pa.array(sim, mask=~ok),
                ],
                names=["id_a", "id_b", "sim_raw"],
            )

    return score
