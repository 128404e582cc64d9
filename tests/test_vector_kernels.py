"""Spark-free checks of the shared numpy kernels in functions/vectors.py:
the (score desc, id asc) top-n selector every BLAS face uses, and the
zero-safe row normalization."""

from __future__ import annotations

import numpy as np
import pytest

from semantic_vector_search_system_spark.functions.vectors import (
    normalize_rows,
    topn_sel,
    unit_rows,
)


def _oracle(S, ids, k):
    return [
        sorted(range(S.shape[1]), key=lambda j: (-S[i, j], ids[j]))[:k]
        for i in range(S.shape[0])
    ]


def _ids(kind, n, rng):
    ints = rng.permutation(n).astype(np.int64) * 7919 + 3
    if kind == "int64":
        return ints
    # decimal strings: lexicographic order differs from numeric ("10" < "9")
    return np.array([str(v) for v in ints], dtype=object)


@pytest.mark.parametrize("id_kind", ["int64", "str"])
@pytest.mark.parametrize("k", [1, 3, 12, 20])
def test_topn_sel_matches_sorted_oracle(id_kind, k):
    """Integer-grid scores (heavy ties) over 12 columns, 1 and 9 rows; k
    = 1 (the argmax path), k < n, k = n and k > n."""
    rng = np.random.default_rng(k)
    for rows in (1, 9):
        for _ in range(25):
            S = rng.integers(-2, 3, size=(rows, 12)).astype(np.float64)
            ids = _ids(id_kind, 12, rng)
            got = topn_sel(S, ids, k)
            assert got.shape == (rows, min(k, 12))
            assert got.tolist() == _oracle(S, ids, k)


def test_normalize_rows_zero_safe_and_dtype_preserving():
    M = np.array([[3.0, 4.0], [0.0, 0.0]], dtype=np.float32)
    out = normalize_rows(M)
    assert out.dtype == np.float32
    assert out.tolist() == [[0.6000000238418579, 0.800000011920929], [0.0, 0.0]]
    ids, U = unit_rows([(7, [0.0, 2.0]), (5, [0.0, 0.0])])
    assert ids.tolist() == [7, 5]
    assert U.dtype == np.float64 and U.tolist() == [[0.0, 1.0], [0.0, 0.0]]
