"""Synthetic label matrices for label-model unit tests (FIXTURES.md §B5;
mirrors the reference's ⚠ test/learning/test_gen_learning.py synthetic
setup — known LF accuracies, assert recovery)."""

from __future__ import annotations

import numpy as np
import pandas as pd


def make_synthetic_L(
    n: int = 10_000,
    m: int = 10,
    cardinality: int = 2,
    accs: list[float] | None = None,
    abstain_rate: float = 0.7,
    class_balance: list[float] | None = None,
    dep_pairs: list[tuple[int, int]] | None = None,
    dep_strength: float = 0.8,
    seed: int = 42,
):
    """Returns (L_long pandas DF, Y true labels, accs).

    Binary convention: labels {−1,+1}, abstain absent.  ``dep_pairs``
    (a, b): LF b copies LF a's output with prob ``dep_strength`` when a
    fired (models DEP_SIMILAR from the ICML'17 taxonomy).
    """
    rng = np.random.default_rng(seed)
    k = cardinality
    accs = np.asarray(accs if accs is not None else np.linspace(0.6, 0.9, m))
    p = np.asarray(class_balance if class_balance is not None else np.full(k, 1.0 / k))
    Y = rng.choice(np.arange(k), size=n, p=p)  # class indices 0..k-1
    L = np.zeros((n, m), dtype=np.int64)  # 0 = abstain
    for j in range(m):
        fires = rng.random(n) > abstain_rate
        correct = rng.random(n) < accs[j]
        voted = np.where(correct, Y, (Y + rng.integers(1, k, size=n)) % k)
        if k == 2:
            lab = np.where(voted == 1, 1, -1)
        else:
            lab = voted + 1
        L[:, j] = np.where(fires, lab, 0)
    for (a, b) in dep_pairs or []:
        copy = (L[:, a] != 0) & (rng.random(n) < dep_strength)
        L[copy, b] = L[copy, a]
    cand, lf = np.nonzero(L)
    L_long = pd.DataFrame(
        {
            "candidate_id": pd.Series(cand).map(lambda i: f"c{i:08d}"),
            "lf_id": lf.astype("int32"),
            "label": L[cand, lf].astype("int32"),
        }
    )
    return L_long, Y, accs, L
