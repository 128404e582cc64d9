"""Dense-vector column expressions (SURVEY §2.7 F4–F6, F11).

Vectors are ``array<float>`` (float32 storage parity with the reference's
memmap) but all arithmetic is done in float64 — the reference's numpy
``mat.dot(q)`` accumulates in the array dtype, we deliberately accumulate in
double for numerical robustness and DuckDB-oracle agreement.

These expressions (``zip_with`` + ``aggregate``) are JVM-side and fine for
moderate fan-out; the *hot* path (millions of candidate pairs) should use
``operators.search.topk_bruteforce`` which scores with a numpy matmul inside
``mapInPandas`` (SURVEY §4: the one place SQL-only loses to BLAS).

The numpy kernels those BLAS faces share live here too, one definition
each next to their Column twins: :func:`normalize_rows`,
:func:`unit_rows` and :func:`topn_sel`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Elementwise dot product in float64 (reference `auto_run_tests.py:127`)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(v),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def l2_normalize(v: Column | str, out_dtype: str = "float") -> Column:
    """``v / ||v||`` guarding the zero vector (reference `encoder.py:97-100`)."""
    vv = _c(v)
    nrm = l2_norm(vv)
    return F.when(nrm > 0, F.transform(vv, lambda x: (x.cast("double") / nrm).cast(out_dtype))).otherwise(
        F.transform(vv, lambda x: x.cast(out_dtype))
    )


def normalize_rows(M: np.ndarray) -> np.ndarray:
    """Numpy twin of :func:`l2_normalize` over the rows of ``M``: each row
    divided by its L2 norm, zero rows stay zero.  Arithmetic stays in
    ``M``'s dtype (float32 batches normalize in float32)."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return np.divide(M, n, out=np.zeros_like(M), where=n > 0)


def unit_rows(rows) -> tuple[np.ndarray, np.ndarray]:
    """Collected ``(id, vec)`` rows — a centroid table, or any bounded
    relation a BLAS face broadcasts — to ``(ids, unit float64 matrix)``,
    both in row order."""
    ids = np.array([r[0] for r in rows])
    return ids, normalize_rows(np.array([r[1] for r in rows], dtype=np.float64))


def topn_sel(S: np.ndarray, ids: np.ndarray, n: int) -> np.ndarray:
    """Per-row column indices of the ``n`` best scores of ``S`` by (score
    desc, id asc), as a ``(rows, min(n, cols))`` array — the one top-k
    selector of the BLAS faces (IVF list assignment, per-list scoring,
    SemDeDup assignment; PQ passes ``-distance`` for ascending order),
    exact parity with a (score desc, id asc) window.  ``ids`` labels the
    columns; any sortable dtype (int64, str).

    Stable argsort by id, then stable argsort by -score, batched over all
    rows.  ``n == 1`` is one ``argmax`` over the id-ascending columns (its
    first-max rule IS the ascending-id tie-break)."""
    order = np.argsort(ids, kind="stable")
    So = S[:, order]
    if n == 1:
        return order[np.argmax(So, axis=1)][:, None]
    return order[np.argsort(-So, axis=1, kind="stable")[:, :n]]


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity in float64; 0.0 when either norm is zero."""
    num = dot_product(a, b)
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def pad_or_truncate(v: Column | str, dim: int) -> Column:
    """Pad with zeros / truncate to ``dim`` (reference `encoder.py:110-116`)."""
    vv = _c(v)
    padded = F.concat(vv, F.array_repeat(F.lit(0.0).cast("float"), dim))
    return F.slice(padded, 1, dim)
