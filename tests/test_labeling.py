"""A1 LF applier: Arrow path == columnar path; fault tolerance;
A4–A7 analytics sanity."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from snorkel_spark.functions.labeling import LF, apply_lfs, apply_lfs_columnar


def test_arrow_equals_columnar(spark, candidates, label_matrix):
    from snorkel_spark.functions.labeling import FAMILY_WORDS, SPOUSE_WORDS

    exprs = {
        0: F.when(F.array_contains("tokens_between", "married"), 1).otherwise(0),
        1: F.when(F.array_contains("tokens_between", "wife"), 1).otherwise(0),
        2: F.when(
            F.arrays_overlap("tokens_between", F.array(*[F.lit(w) for w in FAMILY_WORDS])), -1
        ).otherwise(0),
        4: F.when(F.col("subj_text") == F.col("obj_text"), -1).otherwise(0),
        5: F.when(
            F.arrays_overlap("tokens_between", F.array(*[F.lit(w) for w in SPOUSE_WORDS])), 1
        ).otherwise(0),
        6: F.expr(
            "case when cast(doc_id as bigint) % 7 = 0 then 1"
            " when cast(doc_id as bigint) % 7 = 1 then -1 else 0 end"
        ),
    }
    col = apply_lfs_columnar(candidates, exprs)
    arrow = label_matrix.filter(F.col("lf_id") != 3)  # DS LF not in columnar set
    assert col.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(col).count() == 0


def test_fault_tolerance(candidates):
    def boom(pdf: pd.DataFrame) -> pd.Series:
        raise RuntimeError("lf crashed")

    lfs = [LF(0, "lf_boom", boom), LF(1, "lf_ok", lambda p: pd.Series(1, index=p.index))]
    out = apply_lfs(candidates, lfs, fault_tolerant=True)
    got = {r["lf_id"] for r in out.select("lf_id").distinct().collect()}
    assert got == {1}
    with pytest.raises(Exception):
        apply_lfs(candidates, lfs, fault_tolerant=False).count()


def test_lf_stats(spark, label_matrix, candidates, gold):
    from snorkel_spark.functions.analytics import candidate_coverage, lf_stats

    n = candidates.count()
    stats = {r["lf_id"]: r.asDict() for r in lf_stats(label_matrix, n, gold=gold.select("candidate_id", "label")).collect()}
    # lf0 fires exactly on pat0 docs: 100/300
    assert abs(stats[0]["coverage"] - 100 / 300) < 1e-9
    assert stats[0]["emp_accuracy"] == 1.0
    # lf5 (spouse word) fires on pat0+pat1: 200/300, overlaps with lf0/lf1 everywhere
    assert abs(stats[5]["coverage"] - 200 / 300) < 1e-9
    assert abs(stats[5]["overlaps"] - stats[5]["coverage"]) < 1e-9
    # lf2 (family word) fires on pat2 with label −1, correct on gold −1
    assert stats[2]["polarity"] == [-1]
    assert stats[2]["emp_accuracy"] == 1.0
    cov = candidate_coverage(label_matrix, n).collect()[0]
    assert cov["n_labeled"] == n  # every planted candidate gets ≥1 label


def test_filter_unlabeled_and_balancer(spark, candidates, label_matrix):
    from snorkel_spark.functions.analytics import filter_unlabeled, label_balancer

    assert filter_unlabeled(candidates, label_matrix).count() == candidates.count()
    labeled = candidates.withColumn(
        "label", F.when(F.expr("cast(doc_id as bigint) % 3 = 2"), -1).otherwise(1)
    )
    sampled = label_balancer(labeled, {1: 0.25, -1: 1.0}, seed=7)
    counts = {r["label"]: r["count"] for r in sampled.groupBy("label").count().collect()}
    assert counts[-1] == 100  # kept fully
    assert 20 <= counts[1] <= 90  # ~50 of 200


def test_lf_error_counters(spark, candidates):
    from snorkel_spark.functions.labeling import make_lf_error_counters

    def boom(pdf: pd.DataFrame) -> pd.Series:
        raise RuntimeError("lf crashed")

    lfs = [LF(0, "lf_boom", boom), LF(1, "lf_ok", lambda p: pd.Series(1, index=p.index))]
    counters = make_lf_error_counters(spark, lfs)
    out = apply_lfs(candidates, lfs, fault_tolerant=True, error_counters=counters)
    out.count()  # action → accumulators populated
    assert counters[0].value > 0  # crashing LF is visible, not silent
    assert counters[1].value == 0


def test_expr_fast_path_equals_pandas_path(spark, candidates, fixture_lfs):
    """r06 optimization contract: when every LF carries a Catalyst
    ``expr`` twin, apply_lfs runs entirely JVM-side — the emitted
    long-form matrix must be row-identical to the Arrow/pandas path."""
    import dataclasses

    assert all(lf.expr is not None for lf in fixture_lfs)  # fast path active
    pandas_lfs = [dataclasses.replace(lf, expr=None) for lf in fixture_lfs]
    fast = apply_lfs(candidates, fixture_lfs)
    slow = apply_lfs(candidates, pandas_lfs)
    # the LF application itself must add NO Python node: over a plain
    # in-memory frame the fast path's plan is pure JVM
    tiny = spark.createDataFrame(
        [("c1", "7", "anna lee", "bob kim", "was married to")],
        "candidate_id string, doc_id string, subj_text string, obj_text string, text_between string",
    )
    tplan = apply_lfs(tiny, fixture_lfs)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in tplan and "ArrowEvalPython" not in tplan
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_expr_noise_lf_abstains_on_non_numeric_doc_id(spark, fixture_lfs):
    """A non-numeric doc_id makes the noise LF abstain on the fast path,
    as the fault-tolerant pandas path does, instead of failing the whole
    job on an ANSI cast; the row's other LFs still vote."""
    import dataclasses

    rows = spark.createDataFrame(
        [("c1", "doc-x", "anna lee", "bob kim", "married")],
        "candidate_id string, doc_id string, subj_text string, obj_text string, text_between string",
    )
    pandas_lfs = [dataclasses.replace(lf, expr=None) for lf in fixture_lfs]
    fast = {tuple(r) for r in apply_lfs(rows, fixture_lfs).collect()}
    slow = {tuple(r) for r in apply_lfs(rows, pandas_lfs).collect()}
    assert fast == slow == {("c1", 0, 1), ("c1", 5, 1)}


def test_pandas_path_abstains_per_row_on_null_text_between(spark, fixture_lfs):
    """A null text_between makes the between-word LFs abstain on that row
    only, on the pandas path as in the expr twins: no LF fails its batch."""
    import dataclasses

    from snorkel_spark.functions.labeling import make_lf_error_counters

    rows = spark.createDataFrame(
        [
            ("c1", "7", "anna lee", "bob kim", "was married to"),
            ("c2", "8", "anna lee", "bob kim", None),
            ("c3", "9", "ann cho", "ann cho", "brother of the wife of"),
        ],
        "candidate_id string, doc_id string, subj_text string, obj_text string, text_between string",
    )
    pandas_lfs = [dataclasses.replace(lf, expr=None) for lf in fixture_lfs]
    counters = make_lf_error_counters(spark, pandas_lfs)
    slow = {tuple(r) for r in apply_lfs(rows, pandas_lfs, error_counters=counters).collect()}
    fast = {
        tuple(r)
        for r in apply_lfs_columnar(rows, {lf.lf_id: lf.expr for lf in fixture_lfs}).collect()
    }
    assert slow == fast
    assert {lf_id: c.value for lf_id, c in counters.items()} == {lf.lf_id: 0 for lf in fixture_lfs}
