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
    from snorkel_spark.labelmodel.structure import (
        fit_pseudolikelihood,
        lf_pattern_counts,
    )

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
    from snorkel_spark.labelmodel.structure import lf_pattern_counts

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
    from snorkel_spark.labelmodel.structure import lf_pattern_counts

    L = spark.createDataFrame(
        [("b", 1, 1), row], "candidate_id string, lf_id int, label int"
    )
    with pytest.raises(Exception, match="label matrix row out of range"):
        compute_O_arrow(L, m=2, cardinality=cardinality)
    if cardinality == 2:
        with pytest.raises(Exception, match="label matrix row out of range"):
            lf_pattern_counts(L, 2)


def test_block_deviation_is_the_per_pair_block_max():
    """``block_deviation`` equals the per-cell loop every screen used to
    spell out: max |O − E| over each off-diagonal LF block, j1 < j2."""
    from snorkel_spark.labelmodel.model import block_deviation

    rng = np.random.default_rng(5)
    m, k = 5, 3
    O, E = rng.random((m * k, m * k)), rng.random((m * k, m * k))
    want = np.zeros((m, m))
    for j1 in range(m):
        for j2 in range(j1 + 1, m):
            for c1 in range(k):
                for c2 in range(k):
                    a, b = j1 * k + c1, j2 * k + c2
                    want[j1, j2] = max(want[j1, j2], abs(O[a, b] - E[a, b]))
    assert np.array_equal(block_deviation(O, E, m, k), want)


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


def test_dependency_selector(spark):
    L_long, *_ = make_synthetic_L(
        n=6000, m=4, accs=[0.8] * 4, abstain_rate=0.5, dep_pairs=[(0, 1)], seed=7
    )
    sdf = spark.createDataFrame(L_long)
    C, n = compute_O_arrow(sdf, m=4)
    deps = select_dependencies(C, n, m=4, threshold=0.12)
    assert (0, 1) in deps
    assert all(p == (0, 1) for p in deps)


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
    deps = select_dependencies(C, n, m=5, threshold=0.12)
    assert (0, 1) in deps
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


def test_conditional_screen_vs_marginal():
    """G4 v2: the conditional-independence screen flags a truly
    dependent pair (duplicated LF) but NOT a pair that is merely
    correlated through Y — which fools the marginal screen."""
    import numpy as np

    from snorkel_spark.labelmodel.encoding import compute_O_local
    from snorkel_spark.labelmodel.model import (
        select_dependencies,
        select_dependencies_conditional,
    )

    rng = np.random.default_rng(7)
    n = 20000
    Y = rng.choice([-1, 1], n)

    def noisy(acc, cov):
        lab = np.where(rng.random(n) < acc, Y, -Y)
        lab[rng.random(n) > cov] = 0
        return lab

    a = noisy(0.9, 0.7)
    b = noisy(0.9, 0.6)
    c = a.copy()  # exact duplicate of a — a true dependency
    d = noisy(0.85, 0.65)
    e = noisy(0.8, 0.7)
    # m=5: the three independent LFs anchor each μ̂ column, so the fit
    # cannot absorb the duplicate block (with m=3 it can — the model is
    # under-constrained and the screen would be blind)
    L = np.stack([a, b, c, d, e], axis=1)
    C, nn = compute_O_local(L)
    marg = select_dependencies(C, nn, m=5, threshold=0.05)
    cond, dev = select_dependencies_conditional(C, nn, m=5, threshold=0.05)
    assert (0, 2) in cond, (cond, dev.max())
    assert (0, 1) not in cond, (cond, dev)
    assert (0, 1) in marg  # the marginal screen's false positive


def test_greedy_structure_finds_3_clique():
    """G4 v3: three mutually-coupled LFs (one LF planted twice more as
    near-duplicates) surface as all three pairwise dependencies AND one
    maximal 3-clique; independent LFs stay out of the graph."""
    import numpy as np

    from snorkel_spark.labelmodel.encoding import compute_O_local
    from snorkel_spark.labelmodel.model import select_dependencies_greedy

    rng = np.random.default_rng(11)
    n = 20000
    Y = rng.choice([-1, 1], n)

    def noisy(acc, cov):
        lab = np.where(rng.random(n) < acc, Y, -Y)
        lab[rng.random(n) > cov] = 0
        return lab

    def perturb(base, flip=0.02):
        out = base.copy()
        mask = rng.random(n) < flip
        out[mask] = -out[mask]
        return out

    a = noisy(0.9, 0.7)
    b = perturb(a)   # near-duplicate of a
    c = perturb(a)   # near-duplicate of a → {a,b,c} is a 3-clique
    d = noisy(0.85, 0.65)
    e = noisy(0.8, 0.7)
    f = noisy(0.88, 0.6)
    L = np.stack([a, b, c, d, e, f], axis=1)
    C, nn = compute_O_local(L)
    deps, cliques = select_dependencies_greedy(C, nn, m=6)
    assert {(0, 1), (0, 2), (1, 2)} <= deps, deps
    assert frozenset({0, 1, 2}) in cliques, (deps, cliques)
    # no dependency touching the independent LFs
    assert all(j1 <= 2 and j2 <= 2 for (j1, j2) in deps), deps


def test_pseudolikelihood_structure_planted(spark):
    """G4 v4 (the reference's ICML'17 algorithm shape): ℓ1
    pseudolikelihood over distributed pattern counts recovers exactly
    the planted dependencies — an exact copy and a 90%-coupled
    near-copy — with every merely-Y-correlated pair's weight driven to
    0 by the prox (not just 'below threshold')."""
    import numpy as np

    from snorkel_spark.labelmodel.structure import (
        fit_pseudolikelihood,
        lf_pattern_counts,
        select_dependencies_pseudolikelihood,
    )

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
    deps, W = select_dependencies_pseudolikelihood(Ldf, m=m, n_total=n)
    assert deps == {(0, 4), (1, 5)}, (deps, W.round(3))
    off = [W[j, k] for j in range(m) for k in range(j + 1, m)
           if (j, k) not in {(0, 4), (1, 5)}]
    assert max(off) == 0.0, W.round(3)
    # the distributed pattern compression is lossless vs NumPy
    pats, cnts = lf_pattern_counts(Ldf, m, n_total=n)
    ref_p, ref_c = np.unique(L, axis=0, return_counts=True)
    order = np.lexsort(ref_p.T[::-1])
    assert (pats == ref_p[order]).all() and (cnts == ref_c[order]).all()
    # and the fit on either side of the compression agrees bit-for-bit
    t1 = fit_pseudolikelihood(pats, cnts, m)
    t2 = fit_pseudolikelihood(ref_p[order].astype(np.int8), ref_c[order], m)
    assert (t1["corr"] == t2["corr"]).all()
