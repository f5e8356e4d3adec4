"""Sufficient statistics for the label model (SURVEY.md §2.7 G1).

The distributed piece of label-model training is the second-moment
matrix ``O = E[ψ ψᵀ]`` where ψ is the {0,1} one-hot expansion of the
label vector over (lf, class) pairs — dimension d = m·k (tiny).

- ``compute_O_arrow`` — the distributed path, the treeAggregate-of-
  partials shape north_star names: collect each candidate's votes
  (groupBy + collect_list), then an Arrow-batched pass accumulates
  per-partition partial outer-product sums in NumPy and emits them as
  (i, j, partial_count) rows; a final tiny hash aggregation sums
  partials.  Partial + final = two-phase aggregation; only d² integers
  are collected.
- ``compute_O_local`` — the NumPy oracle over a dense L.

Both return the *count* matrix C (O = C / n) so equality checks between
them are exact integer comparisons.

Label index convention: binary labels {−1,+1} → class index {0,1} via
``c = (label+1)/2``; categorical {1..k} → ``c = label−1``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

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
    """Two-phase partial aggregation of outer products via Arrow batches.

    Single action: each partition's partial pass also counts its rows
    and emits the count as the sentinel cell (−1,−1), so ``n`` rides
    the same job instead of a separate ``votes.count()`` that re-runs
    the groupBy shuffle (guide §1.2: don't compute things twice).
    """
    d = m * cardinality
    votes = (
        psi_index(L, cardinality)
        .groupBy("candidate_id")
        .agg(F.collect_list("a").alias("coords"))
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((d, d), dtype=np.int64)
        n_rows = 0
        for pdf in batches:
            for coords in pdf["coords"]:
                idx = np.asarray(coords, dtype=np.int64)
                acc[np.ix_(idx, idx)] += 1
            n_rows += len(pdf)
        if n_rows:
            i, j = np.nonzero(acc)
            yield pd.DataFrame(
                {
                    "i": np.append(i, -1).astype("int32"),
                    "j": np.append(j, -1).astype("int32"),
                    "cnt": np.append(acc[i, j], n_rows),
                }
            )

    parts = votes.mapInPandas(partials, "i int, j int, cnt long")
    cells = parts.groupBy("i", "j").agg(F.sum("cnt").alias("cnt")).collect()
    C = np.zeros((d, d), dtype=np.int64)
    n = 0
    for r in cells:
        if r["i"] < 0:
            n = int(r["cnt"])
        else:
            C[r["i"], r["j"]] = r["cnt"]
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
