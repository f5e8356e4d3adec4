"""A1 LF applier: the fixture LFs equal the DuckDB oracle, Column LFs
run no Python, pandas LFs keep fault tolerance, mixed sets union;
A4–A7 analytics sanity."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from snorkel_spark.functions.labeling import LF, apply_lfs, apply_lfs_columnar
from tests.conftest import plan_nodes, tree_nodes

_ROWS_SCHEMA = (
    "candidate_id string, doc_id string, subj_text string, obj_text string, text_between string"
)


def _map_in_pandas_command(df) -> bytes:
    """The pickled closure of the MapInPandas node in ``df``'s plan."""
    (udf,) = [node.functionExpr() for n, node in tree_nodes(df._jdf.queryExecution().analyzed())
              if n == "MapInPandas"]
    return bytes(udf.func().command().unsafeArray())


def test_label_matrix_equals_oracle(label_matrix):
    """The fixture LFs' label matrix equals the DuckDB LABEL_MATRIX CTE
    row for row over the same documents."""
    import duckdb

    from snorkel_spark.oracle import PREFIX_LABELS
    from tests.conftest import SF

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(
        PREFIX_LABELS + " SELECT candidate_id, lf_id, label FROM label_matrix"
    ).fetchall()
    con.close()
    got = [tuple(r) for r in label_matrix.collect()]
    assert len(got) > 0
    assert sorted(got) == sorted(want)


def test_column_lfs_plan_has_no_python_node(spark, fixture_lfs):
    """Column LFs never cross into Python: over a plain in-memory frame
    the applied matrix's executed plan is pure JVM."""
    tiny = spark.createDataFrame([("c1", "7", "anna lee", "bob kim", "was married to")], _ROWS_SCHEMA)
    names = [n for n, _ in plan_nodes(apply_lfs(tiny, fixture_lfs))]
    assert "MapInPandasExec" not in names and "ArrowEvalPythonExec" not in names


def test_regex_columns_equal_token_array_columns(spark, candidates, label_matrix):
    """Two Column formulations of the fixture LFs agree: the regex on
    ``text_between`` the fixture set runs, and array predicates on
    ``tokens_between``."""
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
    arrays = apply_lfs_columnar(candidates, exprs)
    regex = label_matrix.filter(F.col("lf_id") != 3)  # DS LF not in the array set
    assert arrays.exceptAll(regex).count() == 0
    assert regex.exceptAll(arrays).count() == 0


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


def test_expr_noise_lf_abstains_on_non_numeric_doc_id(spark, fixture_lfs):
    """A non-numeric doc_id makes the noise LF abstain instead of failing
    the whole job on an ANSI cast; the row's other LFs still vote."""
    rows = spark.createDataFrame([("c1", "doc-x", "anna lee", "bob kim", "married")], _ROWS_SCHEMA)
    got = {tuple(r) for r in apply_lfs(rows, fixture_lfs).collect()}
    assert got == {("c1", 0, 1), ("c1", 5, 1)}


def test_column_lfs_abstain_per_row_on_null_text_between(spark, fixture_lfs):
    """A null text_between makes the between-word LFs abstain on that row
    only; the other rows and the other LFs still vote."""
    rows = spark.createDataFrame(
        [
            ("c1", "7", "anna lee", "bob kim", "was married to"),
            ("c2", "8", "anna lee", "bob kim", None),
            ("c3", "9", "ann cho", "ann cho", "brother of the wife of"),
        ],
        _ROWS_SCHEMA,
    )
    got = {tuple(r) for r in apply_lfs(rows, fixture_lfs).collect()}
    assert got == {
        ("c1", 0, 1), ("c1", 5, 1), ("c1", 6, 1),
        ("c2", 6, -1),
        ("c3", 1, 1), ("c3", 2, -1), ("c3", 4, -1), ("c3", 5, 1),
    }


def test_mixed_lf_set_unions_column_and_pandas_lfs(spark):
    """One Column LF, one pandas LF and one crashing pandas LF: the
    matrix is the union of the two working LFs' rows, only the crashing
    LF's counter moves, and the mapInPandas closure holds only the
    pandas LFs.  A duplicate lf_id raises."""
    from snorkel_spark.functions.labeling import LABEL_MATRIX_SCHEMA, make_lf_error_counters

    rows = spark.createDataFrame(
        [
            ("c1", "7", "anna lee", "bob kim", "was married to"),
            ("c2", "8", "ann cho", "ann cho", "and"),
        ],
        _ROWS_SCHEMA,
    )

    def boom(pdf: pd.DataFrame) -> pd.Series:
        raise RuntimeError("lf crashed")

    lfs = [
        LF(0, "lf_col_married", F.when(F.col("text_between").contains("married"), 1).otherwise(0)),
        LF(1, "lf_py_same", lambda p: -(p["subj_text"] == p["obj_text"]).astype(int)),
        LF(2, "lf_py_boom", boom),
    ]
    counters = make_lf_error_counters(spark, lfs)
    out = apply_lfs(rows, lfs, fault_tolerant=True, error_counters=counters)
    assert {tuple(r) for r in out.collect()} == {("c1", 0, 1), ("c2", 1, -1)}
    assert {k: c.value > 0 for k, c in counters.items()} == {0: False, 1: False, 2: True}
    names = [n for n, _ in plan_nodes(out)]
    assert names.count("MapInPandasExec") == 1 and "GenerateExec" in names
    cmd = _map_in_pandas_command(out)
    assert b"lf_py_same" in cmd and b"lf_py_boom" in cmd and b"lf_col_married" not in cmd
    # a duplicate lf_id would lose one LF's votes; an empty set is empty
    with pytest.raises(ValueError, match="duplicate lf_id"):
        apply_lfs(rows, [*lfs, LF(1, "lf_dup", F.lit(1))])
    empty = apply_lfs(rows, [])
    assert empty.schema == LABEL_MATRIX_SCHEMA and empty.count() == 0

