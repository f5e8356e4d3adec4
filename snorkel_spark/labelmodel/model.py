"""The generative label model: matrix-completion / SGD fit over LF
accuracies and correlations (SURVEY.md §2.7 G1–G7).

Reference semantics: ``GenerativeModel.train`` fits LF accuracy (and
dependency) factors by SGD with Gibbs-sampled gradients
(⚠ snorkel/learning/gen_learning.py::GenerativeModel ~L60–520,
reconstructed — SURVEY.md §0); north_star explicitly names the
matrix-completion formulation of Snorkel MeTaL (Ratner et al., AAAI'19)
as the target: fit μ = E[ψ | Y] from the second-moment matrix O by
minimizing ‖mask ⊙ (O − μ P μᵀ)‖²_F.

Division of labor (the architectural win over the reference —
SURVEY.md §3.1 step E3):
- distributed: the label-pattern counts (``encoding.label_patterns``,
  two in-engine aggregates, ≤ 3^m rows) — one pass; O is expanded
  from them on the driver.
- driver: this module's pure-NumPy full-batch Adam on a (m·k)² problem
  — O(1) in corpus size, deterministic (no sampling anywhere), so
  hyperparameter search (G7) refits WITHOUT re-scanning the corpus.
- distributed again: marginals = a literal factor map probed per label row +
  one hash aggregation — **no Python at all** on the scoring path.

Dependency selection (G4) is ``structure.select_dependencies``; the
pairs it selects enter ``fit`` as ``deps``, the mask.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPS = 1e-6


@dataclass
class LabelModel:
    m: int
    cardinality: int = 2
    class_balance: np.ndarray | None = None
    mu: np.ndarray | None = None          # (d, k): μ[(j,c'),c] = P(λ_j → c' | Y=c)
    deps: set[tuple[int, int]] = field(default_factory=set)

    # ---- G1: fit ----------------------------------------------------
    def fit(
        self,
        C: np.ndarray,
        n: int,
        lr: float = 0.02,
        epochs: int = 2000,
        prec_init: float = 0.7,
        l2: float = 0.0,
    ) -> "LabelModel":
        """Full-batch Adam on ‖M ⊙ (O − μPμᵀ)‖² (deterministic: the
        'SGD' of the paper is full-batch here because O is tiny)."""
        k = self.cardinality
        d = self.m * k
        O = C.astype(np.float64) / max(n, 1)
        p = (
            np.asarray(self.class_balance, dtype=np.float64)
            if self.class_balance is not None
            else np.full(k, 1.0 / k)
        )
        P = np.diag(p)
        # mask: off-diagonal LF blocks, minus learned dependencies (G4)
        M = np.ones((d, d))
        for j in range(self.m):
            M[j * k : (j + 1) * k, j * k : (j + 1) * k] = 0.0
        for (j1, j2) in self.deps:
            M[j1 * k : (j1 + 1) * k, j2 * k : (j2 + 1) * k] = 0.0
            M[j2 * k : (j2 + 1) * k, j1 * k : (j1 + 1) * k] = 0.0
        # init: consistent with observed coverage, biased to prec_init
        diag = np.clip(np.diag(O), EPS, 1.0)
        mu = np.zeros((d, k))
        for j in range(self.m):
            for cp in range(k):
                a = j * k + cp
                for c in range(k):
                    w = prec_init if c == cp else (1.0 - prec_init) / max(k - 1, 1)
                    mu[a, c] = diag[a] * w / max(p[c], EPS)
        mu = np.clip(mu, EPS, 1 - EPS)
        # Adam (deterministic full-batch)
        mt = np.zeros_like(mu)
        vt = np.zeros_like(mu)
        b1, b2, eps = 0.9, 0.999, 1e-8
        for t in range(1, epochs + 1):
            delta = M * (O - mu @ P @ mu.T)
            grad = -2.0 * (delta + delta.T) @ mu @ P + 2.0 * l2 * mu
            mt = b1 * mt + (1 - b1) * grad
            vt = b2 * vt + (1 - b2) * grad * grad
            step = lr * (mt / (1 - b1**t)) / (np.sqrt(vt / (1 - b2**t)) + eps)
            mu = mu - step
            mu = np.clip(mu, EPS, 1 - EPS)
        self.mu = mu
        self.class_balance = p
        return self

    # ---- G3: learned LF stats ---------------------------------------
    def learned_lf_stats(self) -> list[dict]:
        """Per-LF learned accuracy / coverage from μ̂ (⚠ gen_learning.py
        ~L520–560)."""
        k = self.cardinality
        p = self.class_balance
        out = []
        for j in range(self.m):
            block = self.mu[j * k : (j + 1) * k, :]  # rows: voted class, cols: true class
            cov = float(np.sum(p * block.sum(axis=0)))
            correct = float(np.sum(p * np.diag(block)))
            out.append(
                {
                    "lf_id": j,
                    "learned_coverage": cov,
                    "learned_accuracy": correct / cov if cov > 0 else float("nan"),
                }
            )
        return out

    # ---- G2: marginals ------------------------------------------------
    def marginals(self, spark: SparkSession, L: DataFrame) -> DataFrame:
        """P(Y=c | Λ) per candidate — literal factor-map lookup + ONE
        hash agg + row-local softmax; zero Python, one shuffle on
        candidate_id.

        The factor table is tiny (m·k² doubles) and fully known on the
        driver, so instead of materializing it as a DataFrame (which
        costs a Python-RDD scan + a BroadcastExchange) it is inlined as
        a literal ``map<int, array<double>>`` probed per label row:
        key = lf_id·1000 + label (collision-free for cardinality < 999).
        Rows with no factor entry are dropped (same semantics as the
        former inner join); the per-class sums replace the former
        ``pivot``, which planned TWO exchanges (candidate_id+c, then
        candidate_id) — this plans exactly one.
        """
        k = self.cardinality
        logp = [float(np.log(max(b, EPS))) for b in self.class_balance]
        entries: list[F.Column] = []
        for j in range(self.m):
            for cp in range(k):
                label = (-1 if cp == 0 else 1) if k == 2 else cp + 1
                entries.append(F.lit(j * 1000 + label))
                entries.append(
                    F.array(
                        *[
                            F.lit(float(np.log(max(self.mu[j * k + cp, c], EPS))))
                            for c in range(k)
                        ]
                    )
                )
        lmu_map = F.create_map(*entries)
        key = (F.col("lf_id").cast("long") * 1000 + F.col("label")).cast("int")
        scores = (
            L.select("candidate_id", F.element_at(lmu_map, key).alias("_lmu"))
            .filter(F.col("_lmu").isNotNull())
            .groupBy("candidate_id")
            .agg(
                *[
                    F.sum(F.element_at("_lmu", c + 1)).alias(str(c))
                    for c in range(k)
                ]
            )
        )
        # softmax over (log balance + per-class log-likelihood)
        terms = [
            (F.coalesce(F.col(str(c)), F.lit(0.0)) + F.lit(logp[c])).alias(f"s{c}")
            for c in range(k)
        ]
        sc = scores.select("candidate_id", *terms)
        mx = F.greatest(*[F.col(f"s{c}") for c in range(k)])
        exps = [F.exp(F.col(f"s{c}") - mx).alias(f"e{c}") for c in range(k)]
        sc = sc.select("candidate_id", *exps)
        tot = sum(F.col(f"e{c}") for c in range(k))
        probs = sc.select(
            "candidate_id",
            F.array(*[(F.col(f"e{c}") / tot) for c in range(k)]).alias("probs"),
        )
        if k == 2:
            probs = probs.withColumn("prob_true", F.element_at("probs", 2))
        return probs

    def marginals_local(self, L_dense: np.ndarray) -> np.ndarray:
        """NumPy oracle twin of ``marginals`` (same math, dense input)."""
        n, m = L_dense.shape
        k = self.cardinality
        logmu = np.log(np.clip(self.mu, EPS, None))  # (d, k)
        s = np.tile(np.log(np.clip(self.class_balance, EPS, None)), (n, 1))
        for j in range(m):
            col = L_dense[:, j]
            for cp in range(k):
                label = (-1 if cp == 0 else 1) if k == 2 else cp + 1
                hit = col == label
                if hit.any():
                    s[hit] += logmu[j * k + cp, :]
        s -= s.max(axis=1, keepdims=True)
        e = np.exp(s)
        return e / e.sum(axis=1, keepdims=True)


# ---- G5: majority vote ------------------------------------------------
def majority_vote(L: DataFrame) -> DataFrame:
    """Binary majority vote: P(true) ∈ {0, 0.5, 1} by vote sum sign
    (v0.9 ``MajorityLabelVoter`` idiom, SURVEY.md §2.7 G5)."""
    return (
        L.groupBy("candidate_id")
        .agg(F.sum("label").alias("vote_sum"))
        .select(
            "candidate_id",
            F.when(F.col("vote_sum") > 0, 1.0)
            .when(F.col("vote_sum") < 0, 0.0)
            .otherwise(0.5)
            .alias("prob_true"),
        )
    )


# ---- G6: scorer ---------------------------------------------------------
def score_marginals(marginals: DataFrame, gold: DataFrame, b: float = 0.5) -> dict:
    """``MentionScorer`` (⚠ snorkel/learning/utils.py ~L180–300): binary
    P/R/F1 of thresholded marginals vs gold — one aggregation."""
    g = gold.select("candidate_id", F.col("label").alias("gold_label"))
    joined = marginals.join(g, "candidate_id")
    row = joined.agg(
        F.sum(((F.col("prob_true") > b) & (F.col("gold_label") == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("prob_true") > b) & (F.col("gold_label") == -1)).cast("int")).alias("fp"),
        F.sum(((F.col("prob_true") <= b) & (F.col("gold_label") == -1)).cast("int")).alias("tn"),
        F.sum(((F.col("prob_true") <= b) & (F.col("gold_label") == 1)).cast("int")).alias("fn"),
    ).collect()[0]
    tp, fp, tn, fn = row["tp"] or 0, row["fp"] or 0, row["tn"] or 0, row["fn"] or 0
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    acc = (tp + tn) / max(tp + fp + tn + fn, 1)
    return {"tp": tp, "fp": fp, "tn": tn, "fn": fn,
            "precision": prec, "recall": rec, "f1": f1, "accuracy": acc}


# ---- G7: grid search ------------------------------------------------------
def grid_search(
    C: np.ndarray,
    n: int,
    m: int,
    spark: SparkSession,
    L: DataFrame,
    dev_gold: DataFrame,
    param_grid: list[dict],
    cardinality: int = 2,
    class_balance=None,
    metric: str = "f1",
) -> tuple[LabelModel, dict, list[dict]]:
    """Refit per config from the SAME sufficient statistics — no corpus
    re-scan (⚠ snorkel/learning/utils.py::GridSearch ~L300–450; the
    reference re-runs Gibbs per config)."""
    results = []
    best, best_cfg, best_val = None, None, -1.0
    for cfg in param_grid:
        lm = LabelModel(m=m, cardinality=cardinality, class_balance=class_balance)
        lm.fit(C, n, **cfg)
        sc = score_marginals(lm.marginals(spark, L), dev_gold)
        results.append({**cfg, **sc})
        if sc[metric] > best_val:
            best, best_cfg, best_val = lm, cfg, sc[metric]
    return best, best_cfg, results
