"""G4 — faithful ICML'17 pseudolikelihood structure learning (Bach,
He, Ratner, Ré: "Learning the Structure of Generative Models without
Labeled Data", ICML 2017), re-architected for Spark.

The reference optimizes, for every LF j, an ℓ1-regularized maximum
*pseudolikelihood* objective − log P_θ(λ_j | λ_{−j}) with Y
marginalized out, by per-sample SGD over the candidate set, and selects
a dependency (j, k) whenever the learned correlation weight |θ_{jk}|
clears a threshold (⚠ snorkel/learning/structure/gen_learning.py +
synthetic.py, reconstructed — SURVEY.md §0).

Spark-first division of labor — the same statistic as O: for binary
tasks the per-candidate contribution to the objective AND its exact
gradient depend only on the candidate's vote row λ ∈ {−1, 0, +1}^m, so
the whole corpus compresses losslessly into **distinct-pattern
counts** — ``encoding.label_patterns``, the aggregate O is expanded
from, at most min(n, 3^m) rows, in practice a handful (LFs are
rule-like and correlated), each decoded into its vote row on the
driver.  The driver then optimizes the EXACT weighted
pseudolikelihood — full-batch proximal gradient (ISTA) with the closed
-form 6-configuration conditional (λ_j ∈ {−1,0,+1} × Y ∈ {−1,+1}) — so
the result is deterministic (no sampling noise, unlike the reference's
SGD) and hyperparameter sweeps re-run WITHOUT re-scanning the corpus.
The distributed part never ships parameters; the driver part never
touches a candidate row.

Model (per subproblem j, conditioning on λ_{−j} cancels everything
else):  P(λ_j = v, Y = y | λ_{−j}) ∝ exp( θ^acc_j · v·y
    + Σ_{k≠j} θ^acc_k · λ_k·y        (drives the Y posterior)
    + θ^lab_j · 1[v ≠ 0]             (labeling propensity)
    + Σ_{k≠j} θ^corr_{jk} · v·λ_k )  (the ℓ1-selected dependencies)

Binary only, as the reference's model is.  ``select_dependencies`` is
the package's one G4 operator; the pairs it selects enter the label
model as ``LabelModel.deps``, the mask of the matrix-completion fit.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .encoding import label_patterns


def add_abstain_mass(
    patterns: np.ndarray, counts: np.ndarray, m: int, n_total: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """Fold ``n_total − Σcounts`` candidates (the never-voted — rows the
    long-form matrix cannot carry) into the all-abstain pattern, merging
    with an existing zero row rather than duplicating it, then re-sort
    lexicographically.  Shared by the Spark path and the DuckDB oracle
    so both fit on byte-identical (patterns, counts) arrays."""
    residual = 0 if n_total is None else n_total - int(counts.sum())
    if residual > 0:
        zero_rows = np.where(~patterns.any(axis=1))[0]
        if zero_rows.size:
            counts = counts.copy()
            counts[zero_rows[0]] += residual
        else:
            patterns = np.vstack([patterns, np.zeros((1, m), dtype=patterns.dtype)])
            counts = np.append(counts, residual)
    order = np.lexsort(patterns.T[::-1])
    return patterns[order], counts[order]


def lf_pattern_counts(
    L: DataFrame,
    m: int,
    n_total: int | None = None,
    max_patterns: int = 65536,
) -> tuple[np.ndarray, np.ndarray]:
    """Compress the long-form binary label matrix (candidate_id, lf_id,
    label) into (patterns (P, m) int8, counts (P,)) — the exact
    sufficient statistics of the pseudolikelihood for binary tasks.

    Reads ``encoding.label_patterns``, the aggregate O is built from,
    and decodes each ψ-coordinate set into its vote vector on the
    driver.  Coordinates are sorted, so a conflicting duplicate vote
    keeps the larger label, and vectors that decode alike are merged.
    The driver collect is HARD-bounded by ``max_patterns``: patterns
    are taken top-K by count (Spark plans the orderBy+limit as
    TakeOrderedAndProject — per-partition top-K, K·P-row merge, never a
    global sort), and if the matrix is more diverse than the cap, the
    dropped tail's mass is folded into the all-abstain pattern (an
    explicit, warned approximation — the exact regime is
    len(patterns) < max_patterns, where no extra job runs).
    ``n_total`` (candidates including the never-voted) adds the
    all-abstain mass the long form cannot carry.  Patterns are returned
    in lexicographic order so any float reduction downstream is
    order-stable across engines/partitionings.
    """
    pats = label_patterns(L, m)
    rows = pats.orderBy(F.col("count").desc(), "p").limit(max_patterns).collect()
    votes = np.zeros((len(rows), m), dtype=np.int8)
    for i, r in enumerate(rows):
        for a in r["p"]:  # ascending: a later (larger) label overwrites
            votes[i, a // 2] = 2 * (a % 2) - 1
    patterns, inv = np.unique(votes, axis=0, return_inverse=True)
    counts = np.zeros(len(patterns), dtype=np.int64)
    np.add.at(counts, inv.ravel(), [r["count"] for r in rows])
    if len(rows) == max_patterns:
        # cap possibly hit: one extra scalar job tells us how much
        # pattern mass the top-K missed; fold it into all-abstain
        n_voting = pats.agg(F.sum("count")).first()[0]
        dropped = n_voting - int(counts.sum())
        if dropped > 0:
            import warnings

            warnings.warn(
                f"lf_pattern_counts: pattern diversity exceeds "
                f"max_patterns={max_patterns}; {dropped} candidates' "
                f"patterns folded into the all-abstain row "
                f"(approximation — raise max_patterns for exactness)",
                stacklevel=2,
            )
            patterns, counts = add_abstain_mass(patterns, counts, m, n_voting)
    return add_abstain_mass(patterns, counts, m, n_total)


def fit_pseudolikelihood(
    patterns: np.ndarray,
    counts: np.ndarray,
    m: int,
    l1: float = 0.05,
    lr: float = 0.1,
    iters: int = 400,
    l2: float = 1e-3,
    acc_init: float = 1.0,
) -> dict:
    """Exact weighted pseudolikelihood fit, one subproblem per LF j
    (the reference's outer loop), full-batch ISTA on the driver.

    Per iteration and pattern the conditional over the 6 configurations
    (v, y) ∈ {−1,0,+1} × {−1,+1} is computed in closed form (the
    reference does the same per SGD sample); gradients are exact
    expectation differences, vectorized over all P patterns at once.
    ℓ1 applies to correlation weights only (soft-threshold prox — the
    sparsity that IS the structure estimate); accuracy/propensity get
    a small ℓ2.  Deterministic: fixed init, fixed iteration count,
    elementwise NumPy ops, patterns pre-sorted by ``lf_pattern_counts``.

    ``acc_init`` > 0 is REQUIRED, not cosmetic: the marginalized-Y
    objective is invariant under (θ^acc, Y) → (−θ^acc, −Y), so the
    all-zero point is a saddle where every accuracy gradient vanishes
    exactly — initialized there, the accuracy channel never moves and
    Y-mediated co-voting leaks into the correlation weights as false
    structure.  A positive init (the reference's better-than-random
    prior) breaks the symmetry; the conditional model then explains
    merely-Y-correlated pairs through the accuracy terms and the ℓ1
    prox drives their correlation weights back to exactly 0.

    Returns {"acc": (m, m), "lab": (m,), "corr": (m, m)} — row j holds
    subproblem j's estimates; corr[j, k] is θ^corr_{jk} (corr[j, j]=0).
    """
    P = patterns.astype(np.float64)  # (P, m)
    w = counts.astype(np.float64)
    W = float(w.sum())
    vs = np.array([-1.0, 0.0, 1.0])
    ys = np.array([-1.0, 1.0])
    acc_out = np.zeros((m, m))
    lab_out = np.zeros(m)
    corr_out = np.zeros((m, m))
    for j in range(m):
        lam_j = P[:, j]  # observed v per pattern
        mask = np.ones(m, dtype=bool)
        mask[j] = False
        Pmj = P[:, mask]  # (P, m-1)
        th_acc = np.full(m, acc_init)
        th_lab = 0.0
        th_corr = np.zeros(m)  # th_corr[j] pinned 0
        # observed-v one-hot over the 3 v-values, (P, 3)
        obs_v = (lam_j[:, None] == vs[None, :]).astype(np.float64)
        for _ in range(iters):
            r_y = Pmj @ th_acc[mask]  # (P,) coefficient of y
            c_v = Pmj @ th_corr[mask]  # (P,) coefficient of v
            # s[p, a, b] for v=vs[a], y=ys[b]
            s = (
                th_acc[j] * vs[:, None] * ys[None, :]
                + th_lab * np.abs(vs)[:, None]
            )[None, :, :] + r_y[:, None, None] * ys[None, None, :] + c_v[
                :, None, None
            ] * vs[None, :, None]
            smax = s.max(axis=(1, 2), keepdims=True)
            e = np.exp(s - smax)
            q = e / e.sum(axis=(1, 2), keepdims=True)  # (P, 3, 2) model dist
            # observed conditional over y given v = lam_j
            s_obs = np.einsum("pab,pa->pb", s, obs_v)  # (P, 2)
            so_max = s_obs.max(axis=1, keepdims=True)
            eo = np.exp(s_obs - so_max)
            qo = eo / eo.sum(axis=1, keepdims=True)  # (P, 2)
            # expectations
            Ev_m = np.einsum("pab,a->p", q, vs)
            Ey_m = np.einsum("pab,b->p", q, ys)
            Evy_m = np.einsum("pab,a,b->p", q, vs, ys)
            Eabs_m = np.einsum("pab,a->p", q, np.abs(vs))
            Ey_o = qo @ ys
            Evy_o = lam_j * Ey_o
            # gradient of the AVERAGE log pseudolikelihood (ascent)
            g_acc_j = float(w @ (Evy_o - Evy_m)) / W
            g_lab = float(w @ ((lam_j != 0) - Eabs_m)) / W
            # other accuracies couple via the y term: φ = λ_k y
            g_acc_k = (Pmj * ((Ey_o - Ey_m) * w)[:, None]).sum(axis=0) / W
            # correlations: φ = v λ_k
            g_corr_k = (Pmj * ((lam_j - Ev_m) * w)[:, None]).sum(axis=0) / W
            th_acc[j] += lr * (g_acc_j - l2 * th_acc[j])
            th_lab += lr * (g_lab - l2 * th_lab)
            th_acc[mask] += lr * (g_acc_k - l2 * th_acc[mask])
            # ISTA prox: gradient step then soft-threshold (the ℓ1)
            stepped = th_corr[mask] + lr * g_corr_k
            th_corr[mask] = np.sign(stepped) * np.maximum(
                np.abs(stepped) - lr * l1, 0.0
            )
        acc_out[j] = th_acc
        lab_out[j] = th_lab
        corr_out[j] = th_corr
    return {"acc": acc_out, "lab": lab_out, "corr": corr_out}


def select_dependencies(
    patterns: np.ndarray, counts: np.ndarray, m: int, threshold: float = 0.05
) -> tuple[set[tuple[int, int]], np.ndarray]:
    """G4, the one structure learner: the exact pseudolikelihood fit on
    (patterns, counts) → select (j, k), j < k, where the symmetrized
    correlation weight max(|θ_{jk}|, |θ_{kj}|) > threshold (the
    reference unions the two subproblems' verdicts the same way).

    Spark callers pass ``lf_pattern_counts(L, m, n_total)``; the DuckDB
    oracle passes its own ``add_abstain_mass(np.unique(...))``.  With no
    candidate at all (the counts sum to 0) there is nothing to fit and
    no dependency.

    Returns (deps, weight matrix W) with W[j, k] the symmetrized weight.
    """
    if not counts.sum():
        return set(), np.zeros((m, m))
    corr = fit_pseudolikelihood(patterns, counts, m)["corr"]
    W = np.maximum(np.abs(corr), np.abs(corr.T))
    deps = {(j, k) for j in range(m) for k in range(j + 1, m) if W[j, k] > threshold}
    return deps, W
