"""G1–G7: sufficient statistics path equality, accuracy recovery
(mirror of ⚠ test/learning/test_gen_learning.py — SURVEY.md §5.1),
Spark-vs-NumPy-oracle marginal equality, majority vote, scorer."""

import numpy as np
import pytest

from snorkel_spark.labelmodel.encoding import (
    compute_O_arrow,
    compute_O_local,
)
from snorkel_spark.labelmodel.model import (
    LabelModel,
    grid_search,
    majority_vote,
    score_marginals,
)
from snorkel_spark.labelmodel.structure import (
    add_abstain_mass,
    fit_pseudolikelihood,
    lf_pattern_counts,
    select_dependencies,
)
from snorkel_spark.sources.synthetic import make_synthetic_L


@pytest.fixture(scope="module")
def synth(spark):
    L_long, Y, accs, L_dense = make_synthetic_L(
        n=4000, m=6, accs=[0.9, 0.85, 0.8, 0.75, 0.7, 0.65], abstain_rate=0.6, seed=42
    )
    sdf = spark.createDataFrame(L_long).cache()
    return sdf, Y, accs, L_dense


def test_O_paths_agree(spark, synth):
    sdf, _, _, L_dense = synth
    C1, n1 = compute_O_arrow(sdf, m=6)
    C2, _ = compute_O_local(L_dense)
    # the local oracle counts every candidate incl. all-abstain rows;
    # the long form only sees labeled candidates — O cells identical.
    assert np.array_equal(C1, C2)
    assert n1 == int((L_dense != 0).any(axis=1).sum())
    # a duplicated (candidate_id, lf_id, label) row is one vote, as in ψ
    C3, n3 = compute_O_arrow(sdf.unionByName(sdf.filter("lf_id = 0")), m=6)
    assert np.array_equal(C3, C1) and n3 == n1


def test_lf_pattern_counts_bounded_collect(spark):
    m, n = 20, 500
    # high-diversity synthetic matrix: every candidate a distinct
    # pattern (deterministic bit spread), so P = n >> cap
    rows = []
    for cid in range(n):
        for j in range(m):
            v = ((cid >> (j % 9)) + j) % 3 - 1
            if v != 0:
                rows.append((cid, j, v))
    L = spark.createDataFrame(rows, "candidate_id long, lf_id int, label int")
    cap = 64
    with pytest.warns(UserWarning, match="pattern diversity exceeds"):
        pats, cnts = lf_pattern_counts(L, m, n_total=n, max_patterns=cap)
    # hard bound: top-cap + at most one abstain row ever reach driver
    assert len(pats) <= cap + 1
    # no mass lost: the dropped tail folds into the all-abstain row
    assert int(cnts.sum()) == n
    theta = fit_pseudolikelihood(pats, cnts, m, iters=20)
    assert np.isfinite(theta["corr"]).all()
    # exact regime: uncapped call returns the full pattern set and the
    # same arrays as a generous cap (no behavior change when P < cap)
    p1, c1 = lf_pattern_counts(L, m, n_total=n, max_patterns=10**6)
    assert len(p1) == n and int(c1.sum()) == n
    # one vote per (candidate, LF): a duplicated label row is one vote,
    # and a −1 vote is kept beside the LFs that abstain
    dup = spark.createDataFrame(
        [("a", 0, 1), ("a", 0, 1), ("a", 1, -1), ("b", 1, -1), ("b", 1, -1)],
        "candidate_id string, lf_id int, label int",
    )
    p2, c2 = lf_pattern_counts(dup, 3)
    assert p2.tolist() == [[0, -1, 0], [1, -1, 0]] and c2.tolist() == [1, 1]


def test_conflicting_votes_read_from_one_pattern_aggregate(spark):
    """O and the pattern counts read the same label patterns: a
    conflicting duplicate vote books both ψ cells in O and keeps the
    larger label in the vote vector (as ``max`` over the votes would)."""
    L = spark.createDataFrame(
        [("a", 0, 1), ("a", 0, -1), ("a", 1, -1), ("b", 0, -1), ("c", 0, 1)],
        "candidate_id string, lf_id int, label int",
    )
    C, n = compute_O_arrow(L, m=2)
    assert n == 3 and C[0, 1] == 1 and C[1, 1] == 2 and C[0, 0] == 2
    pats, cnts = lf_pattern_counts(L, 2)
    assert pats.tolist() == [[-1, 0], [1, -1], [1, 0]] and cnts.tolist() == [1, 1, 1]


@pytest.mark.parametrize(
    "row, cardinality",
    [(("a", 5, 1), 2), (("a", -1, 1), 2), (("a", 0, 3), 2), (("a", 0, 0), 2),
     (("a", 0, None), 2), (("a", 0, 4), 3)],
)
def test_out_of_range_vote_fails_loudly(spark, row, cardinality):
    """An lf_id outside 0..m−1 or a label outside the cardinality's
    range fails the job in both consumers of the pattern aggregate,
    instead of landing in another LF's cell or being dropped."""
    L = spark.createDataFrame(
        [("b", 1, 1), row], "candidate_id string, lf_id int, label int"
    )
    with pytest.raises(Exception, match="label matrix row out of range"):
        compute_O_arrow(L, m=2, cardinality=cardinality)
    if cardinality == 2:
        with pytest.raises(Exception, match="label matrix row out of range"):
            lf_pattern_counts(L, 2)


def test_accuracy_recovery(spark, synth):
    """Known accuracies 0.65–0.9 recovered within ±0.05 (SURVEY §5.2.2)."""
    sdf, Y, accs, L_dense = synth
    C, n = compute_O_arrow(sdf, m=6)
    lm = LabelModel(m=6).fit(C, n)
    learned = [s["learned_accuracy"] for s in lm.learned_lf_stats()]
    for got, want in zip(learned, accs):
        assert abs(got - want) < 0.05, (got, want)
    # thresholded accuracy must approach the Bayes-optimal predictor
    # built from the TRUE accuracies (stronger than any fixed bound)
    s = np.zeros((len(Y), 2))
    for j in range(6):
        for cp, lab in [(0, -1), (1, 1)]:
            hit = L_dense[:, j] == lab
            for c in range(2):
                p = accs[j] if c == cp else 1 - accs[j]
                s[hit, c] += np.log(p)
    labeled = L_dense.any(axis=1)
    bayes_acc = ((s[:, 1] > s[:, 0]).astype(int)[labeled] == Y[labeled]).mean()
    probs = lm.marginals_local(L_dense)
    pred = (probs[labeled, 1] > 0.5).astype(int)
    acc = (pred == Y[labeled]).mean()
    assert acc > bayes_acc - 0.01, (acc, bayes_acc)


def test_marginals_spark_equals_oracle(spark, synth):
    sdf, _, _, L_dense = synth
    C, n = compute_O_arrow(sdf, m=6)
    lm = LabelModel(m=6).fit(C, n)
    spark_m = {
        r["candidate_id"]: r["prob_true"] for r in lm.marginals(spark, sdf).collect()
    }
    local = lm.marginals_local(L_dense)
    labeled_idx = np.nonzero(L_dense.any(axis=1))[0]
    for i in labeled_idx[:500]:
        cid = f"c{i:08d}"
        assert abs(spark_m[cid] - local[i, 1]) < 1e-8


def test_majority_vote_and_scorer(spark):
    import pandas as pd

    L = spark.createDataFrame(
        pd.DataFrame(
            {
                "candidate_id": ["a", "a", "b", "b", "c"],
                "lf_id": [0, 1, 0, 1, 0],
                "label": [1, 1, 1, -1, -1],
            }
        )
    )
    mv = {r["candidate_id"]: r["prob_true"] for r in majority_vote(L).collect()}
    assert mv == {"a": 1.0, "b": 0.5, "c": 0.0}
    gold = spark.createDataFrame(
        pd.DataFrame({"candidate_id": ["a", "b", "c"], "label": [1, -1, -1]})
    )
    sc = score_marginals(majority_vote(L), gold)
    assert (sc["tp"], sc["tn"], sc["fp"], sc["fn"]) == (1, 2, 0, 0)
    assert sc["precision"] == 1.0 and sc["recall"] == 1.0


def test_grid_search_refits_without_rescan(spark, synth):
    sdf, Y, _, L_dense = synth
    import pandas as pd

    gold = spark.createDataFrame(
        pd.DataFrame(
            {
                "candidate_id": [f"c{i:08d}" for i in range(len(Y))],
                "label": np.where(Y == 1, 1, -1),
            }
        )
    )
    C, n = compute_O_arrow(sdf, m=6)
    best, cfg, results = grid_search(
        C, n, m=6, spark=spark, L=sdf, dev_gold=gold,
        param_grid=[{"lr": 0.02, "epochs": 500}, {"lr": 0.05, "epochs": 1500}],
    )
    assert len(results) == 2 and best is not None and results[0]["f1"] > 0.8


def test_categorical_cardinality_3(spark):
    """k=3 path: O encoding, fit, marginal recovery above chance."""
    L_long, Y, accs, L_dense = make_synthetic_L(
        n=6000, m=6, cardinality=3, accs=[0.85] * 6, abstain_rate=0.5,
        class_balance=[0.5, 0.3, 0.2], seed=11,
    )
    sdf = spark.createDataFrame(L_long)
    C, n = compute_O_arrow(sdf, m=6, cardinality=3)
    C2, n2 = compute_O_local(L_dense, cardinality=3)
    assert np.array_equal(C, C2)
    # long form sees labeled candidates only; the dense oracle counts all
    assert n == int(L_dense.any(axis=1).sum())
    lm = LabelModel(m=6, cardinality=3, class_balance=np.array([0.5, 0.3, 0.2]))
    lm.fit(C, n)
    probs = lm.marginals_local(L_dense)
    labeled = L_dense.any(axis=1)
    acc = (probs[labeled].argmax(axis=1) == Y[labeled]).mean()
    assert acc > 0.85
    # distributed marginals agree with the oracle twin
    spark_m = {r["candidate_id"]: r["probs"] for r in lm.marginals(spark, sdf).collect()}
    idx = np.nonzero(labeled)[0][:200]
    for i in idx:
        got = np.asarray(spark_m[f"c{i:08d}"])
        assert np.allclose(got, probs[i], atol=1e-8)


def test_fit_with_dependency_mask_improves_correlated_recovery(spark):
    """Feeding G4's dependency pairs into the fit mask must not hurt —
    and on strongly-correlated LFs it reduces accuracy-estimate bias."""
    L_long, Y, accs, L_dense = make_synthetic_L(
        n=8000, m=5, accs=[0.85, 0.85, 0.8, 0.75, 0.7], abstain_rate=0.5,
        dep_pairs=[(0, 1)], dep_strength=0.95, seed=3,
    )
    sdf = spark.createDataFrame(L_long)
    C, n = compute_O_arrow(sdf, m=5)
    deps, _W = select_dependencies(*lf_pattern_counts(sdf, 5, len(Y)), 5)
    assert deps == {(0, 1)}
    plain = LabelModel(m=5).fit(C, n)
    masked = LabelModel(m=5, deps=deps).fit(C, n)
    # empirical accuracies of the copied LF pair
    def errs(lm):
        learned = [s["learned_accuracy"] for s in lm.learned_lf_stats()]
        emp = []
        for j in range(5):
            col = L_dense[:, j]
            fired = col != 0
            emp.append(((col[fired] == 1).astype(int) == Y[fired]).mean())
        return np.abs(np.array(learned) - np.array(emp))
    e_plain, e_masked = errs(plain), errs(masked)
    # masked fit at least as good on the correlated pair (small slack)
    assert e_masked[[0, 1]].mean() <= e_plain[[0, 1]].mean() + 0.02


def _noisy(rng, Y, acc, cov):
    lab = np.where(rng.random(len(Y)) < acc, Y, -Y)
    lab[rng.random(len(Y)) > cov] = 0
    return lab


def _copied_pair():
    *_, L = make_synthetic_L(
        n=6000, m=4, accs=[0.8] * 4, abstain_rate=0.5, dep_pairs=[(0, 1)], seed=7
    )
    return L, {(0, 1)}


def _strongly_copied_pair():
    *_, L = make_synthetic_L(
        n=8000, m=5, accs=[0.85, 0.85, 0.8, 0.75, 0.7], abstain_rate=0.5,
        dep_pairs=[(0, 1)], dep_strength=0.95, seed=3,
    )
    return L, {(0, 1)}


def _duplicate_lf():
    # LF 2 is an exact copy of LF 0; LFs 0 and 1 are merely correlated
    # through Y, which a marginal-independence screen flags as well
    rng = np.random.default_rng(7)
    Y = rng.choice([-1, 1], 20000)
    a = _noisy(rng, Y, 0.9, 0.7)
    b = _noisy(rng, Y, 0.9, 0.6)
    d = _noisy(rng, Y, 0.85, 0.65)
    e = _noisy(rng, Y, 0.8, 0.7)
    return np.stack([a, b, a.copy(), d, e], axis=1), {(0, 2)}


def _near_duplicate_triple():
    # LFs 1 and 2 are LF 0 with 2 % of its votes flipped: a 3-clique
    rng = np.random.default_rng(11)
    Y = rng.choice([-1, 1], 20000)

    def perturb(base, flip=0.02):
        out = base.copy()
        mask = rng.random(len(Y)) < flip
        out[mask] = -out[mask]
        return out

    a = _noisy(rng, Y, 0.9, 0.7)
    b, c = perturb(a), perturb(a)
    d = _noisy(rng, Y, 0.85, 0.65)
    e = _noisy(rng, Y, 0.8, 0.7)
    f = _noisy(rng, Y, 0.88, 0.6)
    return np.stack([a, b, c, d, e, f], axis=1), {(0, 1), (0, 2), (1, 2)}


@pytest.mark.parametrize(
    "make",
    [_copied_pair, _strongly_copied_pair, _duplicate_lf, _near_duplicate_triple],
    ids=["copied_pair", "strongly_copied_pair", "duplicate_lf", "near_duplicate_triple"],
)
def test_structure_learner_recovers_planted(make):
    """G4 on NumPy pattern counts (the oracle's path): exactly the
    planted pairs are selected, and the ℓ1 prox drives every other
    pair's weight to exactly 0 (not just below the threshold) — also
    for pairs merely correlated through Y and inside a 3-clique."""
    L, planted = make()
    m = L.shape[1]
    pats, cnts = np.unique(L, axis=0, return_counts=True)
    deps, W = select_dependencies(*add_abstain_mass(pats.astype(np.int8), cnts, m, None), m)
    assert deps == planted, (deps, W.round(3))
    off = [W[j, k] for j in range(m) for k in range(m)
           if (min(j, k), max(j, k)) not in planted]
    assert all(w == 0.0 for w in off), W.round(3)


@pytest.mark.parametrize("n_total", [None, 10])
def test_empty_label_matrix_has_no_dependencies(spark, n_total):
    """No LF fired: the learner selects nothing (with ``n_total`` the
    corpus is all-abstain mass) instead of dividing by a zero count."""
    L = spark.createDataFrame([], "candidate_id long, lf_id int, label int")
    pats, cnts = lf_pattern_counts(L, 3, n_total)
    assert int(cnts.sum()) == (n_total or 0)
    deps, W = select_dependencies(pats, cnts, 3)
    assert deps == set() and W.shape == (3, 3) and not W.any()


def test_pseudolikelihood_structure_planted(spark):
    """G4 (the reference's ICML'17 algorithm): ℓ1
    pseudolikelihood over distributed pattern counts recovers exactly
    the planted dependencies — an exact copy and a 90%-coupled
    near-copy — with every merely-Y-correlated pair's weight driven to
    0 by the prox (not just 'below threshold')."""
    rng = np.random.default_rng(0)
    n, m = 4000, 6
    Y = rng.choice([-1, 1], n)
    L = np.zeros((n, m), dtype=np.int64)
    for j in range(4):
        fire = rng.random(n) < 0.6
        correct = rng.random(n) < 0.8
        L[:, j] = np.where(fire, np.where(correct, Y, -Y), 0)
    L[:, 4] = L[:, 0]                                      # exact copy
    L[:, 5] = np.where(rng.random(n) < 0.9, L[:, 1], 0)    # near-copy
    long_rows = [
        (int(i), int(j), int(L[i, j]))
        for i in range(n) for j in range(m) if L[i, j] != 0
    ]
    Ldf = spark.createDataFrame(long_rows, "candidate_id long, lf_id int, label int")
    pats, cnts = lf_pattern_counts(Ldf, m, n_total=n)
    deps, W = select_dependencies(pats, cnts, m)
    assert deps == {(0, 4), (1, 5)}, (deps, W.round(3))
    off = [W[j, k] for j in range(m) for k in range(j + 1, m)
           if (j, k) not in {(0, 4), (1, 5)}]
    assert max(off) == 0.0, W.round(3)
    # the distributed pattern compression is lossless vs NumPy
    ref_p, ref_c = np.unique(L, axis=0, return_counts=True)
    order = np.lexsort(ref_p.T[::-1])
    assert (pats == ref_p[order]).all() and (cnts == ref_c[order]).all()
    # and the fit on either side of the compression agrees bit-for-bit
    t1 = fit_pseudolikelihood(pats, cnts, m)
    t2 = fit_pseudolikelihood(ref_p[order].astype(np.int8), ref_c[order], m)
    assert (t1["corr"] == t2["corr"]).all()
