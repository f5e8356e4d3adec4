"""Sufficient statistics for the label model (SURVEY.md §2.7 G1).

The distributed piece of label-model training is the second-moment
matrix ``O = E[ψ ψᵀ]`` where ψ is the {0,1} one-hot expansion of the
label vector over (lf, class) pairs — dimension d = m·k (tiny).

- ``compute_O_arrow`` — the distributed path, two hash aggregates in
  the engine: each candidate's sorted set of ψ coordinates (its label
  pattern), then the count of candidates per pattern.  Only the
  distinct patterns (≤ 3^m for binary labels) reach the driver, which
  expands each into its d×d block; no Python runs on executors.
- ``compute_O_local`` — the NumPy oracle over a dense L.

Both return the *count* matrix C (O = C / n) so equality checks between
them are exact integer comparisons.

Label index convention: binary labels {−1,+1} → class index {0,1} via
``c = (label+1)/2``; categorical {1..k} → ``c = label−1``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def class_index_expr(label_col: str, cardinality: int) -> str:
    if cardinality == 2:
        return f"cast(({label_col} + 1) / 2 as int)"
    return f"cast({label_col} - 1 as int)"


def psi_index(L: DataFrame, cardinality: int = 2) -> DataFrame:
    """long-form (candidate_id, lf_id, label) → (candidate_id, a) with
    a = lf_id * k + class_index — the ψ coordinate."""
    k = cardinality
    return L.select(
        "candidate_id",
        F.expr(f"lf_id * {k} + {class_index_expr('label', k)}").cast("int").alias("a"),
    )


def compute_O_arrow(L: DataFrame, m: int, cardinality: int = 2) -> tuple[np.ndarray, int]:
    """The count matrix C = ΨᵀΨ and the labeled-candidate count n from
    two in-engine aggregates over the long-form L.

    Ψ's row depends only on the candidate's label *pattern* (its sorted
    set of ψ coordinates), so the engine collects one row per distinct
    pattern with its multiplicity — at most 3^m rows whatever the
    corpus size — and the driver adds each pattern's count to its
    block ``C[p × p]``.  ``collect_set`` counts a duplicated vote once,
    as a {0,1} ψ does.

    The name predates this plan (it was an Arrow-batched NumPy pass)
    and stays because callers patch and import the module attribute
    ``encoding.compute_O_arrow``.
    """
    d = m * cardinality
    patterns = (
        psi_index(L, cardinality)
        .groupBy("candidate_id")
        .agg(F.sort_array(F.collect_set("a")).alias("p"))
        .groupBy("p")
        .count()
        .collect()
    )
    C = np.zeros((d, d), dtype=np.int64)
    n = 0
    for r in patterns:
        idx = np.asarray(r["p"], dtype=np.int64)
        C[np.ix_(idx, idx)] += r["count"]
        n += r["count"]
    return C, n


def compute_O_local(L_dense: np.ndarray, cardinality: int = 2) -> tuple[np.ndarray, int]:
    """NumPy oracle twin (SURVEY.md §5.2.1): dense L (n × m) with the
    reference label convention; returns the same count matrix."""
    n, m = L_dense.shape
    k = cardinality
    d = m * k
    psi = np.zeros((n, d), dtype=np.int64)
    for j in range(m):
        col = L_dense[:, j]
        if k == 2:
            psi[col == -1, j * k + 0] = 1
            psi[col == 1, j * k + 1] = 1
        else:
            for c in range(1, k + 1):
                psi[col == c, j * k + (c - 1)] = 1
    C = psi.T @ psi
    return C.astype(np.int64), n
