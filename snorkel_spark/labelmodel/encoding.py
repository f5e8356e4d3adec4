"""Sufficient statistics for the label model (SURVEY.md §2.7 G1, G4).

Both label-model fits see the label matrix only through its distinct
label patterns: a candidate's pattern is its sorted set of ψ
coordinates, where ψ is the {0,1} one-hot expansion of the label vector
over (lf, class) pairs — dimension d = m·k (tiny).

- ``label_patterns`` — the one distributed statistic, two hash
  aggregates in the engine: each candidate's pattern, then the count of
  candidates per pattern (≤ 3^m rows for binary labels).
  ``compute_O_arrow`` expands each pattern into its d×d block of the
  count matrix C (O = C / n); ``structure.lf_pattern_counts`` decodes
  the same rows into vote vectors.  No Python runs on executors.
- ``compute_O_local`` — the NumPy oracle over a dense L; both O paths
  return C, so equality checks are exact integer comparisons.

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


def psi_index(L: DataFrame, m: int, cardinality: int = 2) -> DataFrame:
    """long-form (candidate_id, lf_id, label) → (candidate_id, a) with
    a = lf_id * k + class_index — the ψ coordinate.  An ``lf_id``
    outside 0..m−1 or a label outside the cardinality's range (or a
    null) fails the job instead of landing in another LF's cell."""
    k = cardinality
    label = F.col("label")
    in_range = F.col("lf_id").between(0, m - 1) & (
        label.isin(-1, 1) if k == 2 else label.between(1, k)
    )
    a = F.expr(f"lf_id * {k} + {class_index_expr('label', k)}").cast("int")
    bad = F.raise_error(F.format_string(
        f"label matrix row out of range (m={m}, cardinality={k}): lf_id %s, label %s",
        "lf_id", "label"))
    return L.select("candidate_id", F.when(in_range, a).otherwise(bad).alias("a"))


def label_patterns(L: DataFrame, m: int, cardinality: int = 2) -> DataFrame:
    """(p, count): each distinct label pattern with the number of
    candidates carrying it — uncollected; each consumer collects it its
    way.  ``collect_set`` counts a duplicated vote once, as a {0,1} ψ
    does."""
    return (
        psi_index(L, m, cardinality)
        .groupBy("candidate_id")
        .agg(F.sort_array(F.collect_set("a")).alias("p"))
        .groupBy("p")
        .count()
    )


def compute_O_arrow(L: DataFrame, m: int, cardinality: int = 2) -> tuple[np.ndarray, int]:
    """The count matrix C = ΨᵀΨ and the labeled-candidate count n: the
    driver adds each ``label_patterns`` row's count to its block
    ``C[p × p]``.

    The name predates this plan (it was an Arrow-batched NumPy pass)
    and stays because callers patch and import the module attribute
    ``encoding.compute_O_arrow``.
    """
    d = m * cardinality
    C = np.zeros((d, d), dtype=np.int64)
    n = 0
    for r in label_patterns(L, m, cardinality).collect():
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
