"""End-to-end pipeline: P/R ≥ 0.95 vs planted gold, checkpoint/resume,
salted == unsalted aggregation (north_rule gates)."""

import pyspark.sql.functions as F
import pytest

from snorkel_spark.operators.canonicalize import triple_prf
from snorkel_spark.plans.pipeline import run_kg_pipeline
from snorkel_spark.storage import Catalog
from tests.conftest import SF


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    cat = Catalog(str(tmp_path_factory.mktemp("warehouse")))
    info = run_kg_pipeline(spark, SF, cat)
    return cat, info


def test_triple_prf_gate(spark, pipeline_run):
    from snorkel_spark.sources import fixtures as FX

    cat, info = pipeline_run
    gt = FX.gold_triples(spark, SF)
    prf = triple_prf(info["triples_df"], gt)
    assert prf["precision"] >= 0.95, prf
    assert prf["recall"] >= 0.95, prf


def test_marginal_agreement_gate(spark, pipeline_run):
    """Label-model decisions vs the NumPy-oracle stand-in (P/R ≥ 0.95).

    Until /root/reference is populated (SURVEY.md §0) the oracle twin is
    the agreement target; at M0 this swaps to true reference marginals.
    """
    from snorkel_spark.labelmodel.model import score_marginals
    from snorkel_spark.sources import fixtures as FX

    cat, info = pipeline_run
    marg = cat.read(spark, "marginals")
    gold = FX.gold_labels(spark, SF)
    sc = score_marginals(marg, gold)
    assert sc["precision"] >= 0.95 and sc["recall"] >= 0.95, sc


def test_lineage_and_metrics_written(pipeline_run):
    cat, info = pipeline_run
    stages = {r["stage"] for r in cat.lineage()}
    assert {"sentences", "candidates", "label_matrix", "marginals", "triples"} <= stages
    met = cat.metrics()
    assert len(met) > 0
    assert {"stage", "partition_id", "output_rows", "wall_ms"} <= set(met[0])


def test_warm_pass_compiles_no_class(spark, tmp_path_factory):
    """The codegen cache holds the whole chain: a second pass in the
    same session, into a fresh catalog, compiles no Janino class."""
    passes = []
    for i in range(2):
        cat = Catalog(str(tmp_path_factory.mktemp(f"warehouse_pass{i}")))
        run_kg_pipeline(spark, SF, cat)
        passes.append(cat.lineage())
    for rows in passes:
        assert [r["stage"] for r in rows] == [
            "sentences", "candidates", "label_matrix", "marginals", "triples"
        ]
        assert all(r["jit_ms"] >= 0 and r["classes_loaded"] >= 0 for r in rows), rows
    assert {r["stage"]: r["codegen_classes"] for r in passes[1]} == dict.fromkeys(
        ("sentences", "candidates", "label_matrix", "marginals", "triples"), 0
    )


def test_resume_skips_completed_stages(spark, pipeline_run):
    cat, info = pipeline_run
    info2 = run_kg_pipeline(spark, SF, cat)
    assert set(info2["skipped"]) == {
        "sentences", "candidates", "label_matrix", "marginals", "triples"
    }
    # identical triples after resume
    t1 = info["triples_df"].select("subj", "pred", "obj", "n_evidence")
    t2 = info2["triples_df"].select("subj", "pred", "obj", "n_evidence")
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0


def test_partial_run_then_resume(spark, tmp_path_factory):
    """Kill-after-checkpoint: run through label_matrix only, then full —
    early stages must be skipped (north_rule resumability)."""
    cat = Catalog(str(tmp_path_factory.mktemp("warehouse2")))
    run_kg_pipeline(spark, SF, cat, stop_after="label_matrix")
    assert {r["stage"] for r in cat.lineage()} == {"sentences", "candidates", "label_matrix"}
    info = run_kg_pipeline(spark, SF, cat)
    assert {"sentences", "candidates", "label_matrix"} <= set(info["skipped"])
    assert "triples" not in info["skipped"]


def test_salted_equals_unsalted(spark, pipeline_run):
    cat, info = pipeline_run
    cat2 = Catalog(cat.root + "_salted")
    info2 = run_kg_pipeline(spark, SF, cat2, n_salts=8)
    cols = ["subj", "pred", "obj", "prob", "n_evidence"]
    t1 = info["triples_df"].select(*cols)
    t2 = info2["triples_df"].select(*cols)
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0


def test_pipeline_full_parser_variant(spark, tmp_path_factory):
    """run_kg_pipeline(parser='full') runs the real splitter/tokenizer
    end-to-end: on the clean (punctuation-free) corpus it emits exactly
    the whitespace path's triples, and its sentences snapshot is keyed
    by a DIFFERENT config hash (the two parsers never alias on resume)."""
    from snorkel_spark.sources import fixtures as FX
    from snorkel_spark.operators.canonicalize import triple_prf

    cat = Catalog(str(tmp_path_factory.mktemp("warehouse_fullparse")))
    info = run_kg_pipeline(spark, SF, cat, parser="full")
    gt = FX.gold_triples(spark, SF)
    prf = triple_prf(info["triples_df"], gt)
    assert prf["precision"] >= 0.95 and prf["recall"] >= 0.95, prf
    # resume with parser='whitespace' must NOT reuse the full-parse
    # sentences snapshot (config hash differs) ...
    info2 = run_kg_pipeline(spark, SF, cat, parser="whitespace")
    assert "sentences" not in info2["skipped"]
    # ... while rerunning parser='full' resumes it
    info3 = run_kg_pipeline(spark, SF, cat, parser="full")
    assert "sentences" in info3["skipped"]


def test_changed_lf_set_reruns_label_matrix(spark, tmp_path_factory, monkeypatch):
    """The label_matrix resume key covers the LFs actually applied: after
    the LF set changes, resuming on the same catalog recomputes the
    label matrix instead of reusing the old set's snapshot."""
    from snorkel_spark.functions import labeling

    cat = Catalog(str(tmp_path_factory.mktemp("warehouse_lfs")))
    run_kg_pipeline(spark, SF, cat, stop_after="label_matrix")
    fixture_lfs = labeling.make_fixture_lfs
    monkeypatch.setattr(
        labeling, "make_fixture_lfs",
        lambda pairs: [lf for lf in fixture_lfs(pairs) if lf.name != "lf_noise"])
    info = run_kg_pipeline(spark, SF, cat, stop_after="label_matrix")
    assert set(info["skipped"]) == {"sentences", "candidates"}


def test_pandas_lf_set_resumes_label_matrix(spark, tmp_path_factory, monkeypatch):
    """A pandas LF body is keyed on its code, not on ``str`` of the
    function (which holds a per-process address): an LF set that builds
    a fresh pandas closure on every call still resumes its label
    matrix."""
    import pandas as pd

    from snorkel_spark.functions import labeling

    fixture_lfs = labeling.make_fixture_lfs
    built = []  # keeps every body alive, so no address is reused

    def with_pandas_lf(pairs):
        lfs = fixture_lfs(pairs)
        built.append(labeling.LF(len(lfs), "lf_abstain", lambda pdf: pd.Series(0, index=pdf.index)))
        return lfs + built[-1:]

    monkeypatch.setattr(labeling, "make_fixture_lfs", with_pandas_lf)
    cat = Catalog(str(tmp_path_factory.mktemp("warehouse_pandas_lf")))
    run_kg_pipeline(spark, SF, cat, stop_after="label_matrix")
    info = run_kg_pipeline(spark, SF, cat, stop_after="label_matrix")
    assert built[0].fn is not built[1].fn
    assert set(info["skipped"]) == {"sentences", "candidates", "label_matrix"}


def test_commit_without_lineage_row_resumes(spark, tmp_path_factory, monkeypatch):
    """Resume reads the manifest's commit record, written in the same
    atomic swap as the data: a stage whose lineage append fails after
    the commit is skipped on the rerun, not recomputed."""
    cat = Catalog(str(tmp_path_factory.mktemp("warehouse_lineage_crash")))

    def crash(row):
        raise OSError("lineage log unwritable")

    with monkeypatch.context() as mp:
        mp.setattr(cat, "log_lineage", crash)
        with pytest.raises(OSError, match="lineage log unwritable"):
            run_kg_pipeline(spark, SF, cat, stop_after="sentences")
    assert cat.lineage() == [] and len(cat.snapshots("sentences")) == 1
    assert run_kg_pipeline(spark, SF, cat, stop_after="sentences")["skipped"] == ["sentences"]
    assert len(cat.snapshots("sentences")) == 1


def test_source_change_reruns_sentences(spark, tmp_path_factory, monkeypatch):
    """Every stage key carries the package source fingerprint: after a
    code change, resuming on the same catalog recomputes the stage."""
    from snorkel_spark.plans import pipeline

    cat = Catalog(str(tmp_path_factory.mktemp("warehouse_src")))
    run_kg_pipeline(spark, SF, cat, stop_after="sentences")
    assert run_kg_pipeline(spark, SF, cat, stop_after="sentences")["skipped"] == ["sentences"]
    monkeypatch.setattr(pipeline, "source_fingerprint", lambda: "changed")
    assert run_kg_pipeline(spark, SF, cat, stop_after="sentences")["skipped"] == []


def test_bench_and_contract_agree_with_pipeline(spark, pipeline_run):
    """bench.run_pipeline reports run_kg_pipeline's own stage records and
    the contract's flagship query composes the same chain: equal row
    counts at every stage, and the five lineage walls fit in the total."""
    import __spark_entry__
    import bench

    cat, info = pipeline_run
    total, q = bench.run_pipeline(spark, SF)
    for key, stage in (("n_sentences", "sentences"), ("n_candidates", "candidates"),
                       ("n_label_rows", "label_matrix"), ("n_triples", "triples")):
        assert q[key] == cat.read(spark, stage, info[stage]).count(), key
    walls = {k for k in q if k.endswith("_sec") and not k.endswith("_per_sec")}
    assert walls == {"sentences_sec", "candidates_sec", "label_matrix_sec",
                     "marginals_sec", "triples_sec"}, walls
    assert sum(q[k] for k in walls) <= total, q
    assert __spark_entry__.entry(spark).count() == 134


def test_g1_oracle_fit_failure_is_loud(monkeypatch):
    """An error while fitting the label-model oracles propagates instead
    of silently turning the value-checked G1/G4 entries into rows-only
    checks."""
    import __spark_entry__
    from snorkel_spark.labelmodel.model import LabelModel

    def boom(self, *a, **k):
        raise RuntimeError("fit failed")

    monkeypatch.setattr(__spark_entry__, "_ORACLE_SF", SF)
    monkeypatch.setattr(LabelModel, "fit", boom)
    with pytest.raises(RuntimeError, match="fit failed"):
        __spark_entry__._g1_oracle_entries()


def test_pass_job_budget(salted_pass):
    """One pass runs ≤13 Spark jobs (32 before the gazetteer moved to the
    driver and snapshot reads took their recorded schema, 15 before the
    input read took its fixed schema, 14 before mentions carried their
    sentence's tokens)."""
    jobs = salted_pass["jobs"]
    assert 0 < len(jobs) <= 13, len(jobs)


def test_chain_runs_no_python(spark, tmp_path, monkeypatch):
    """A whole pass plans no Python stage: every entry point to one
    raises, and the pass still completes."""
    from pyspark.sql import functions as PF

    def no_python(*a, **k):
        raise AssertionError("Python stage in the KG chain")

    # the session's concrete classes: they override the public base's methods
    frame = type(spark.range(0))
    grouped = type(spark.range(0).groupBy())
    for owner, name in [(frame, "mapInPandas"), (frame, "mapInArrow"),
                        (grouped, "applyInPandas"), (PF, "udf"), (PF, "pandas_udf")]:
        monkeypatch.setattr(owner, name, no_python)
    info = run_kg_pipeline(spark, SF, Catalog(str(tmp_path / "wh")))
    assert info["triples_df"].count() > 0


def test_rewritten_input_reruns_sentences(spark, tmp_path):
    """The sentences stage is keyed on its input files: an unchanged
    input resumes, a rewritten one re-runs."""
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF}/documents.parquet", sf / "documents.parquet")
    cat = Catalog(str(tmp_path / "wh"))
    run_kg_pipeline(spark, str(sf), cat, stop_after="sentences")
    assert run_kg_pipeline(spark, str(sf), cat, stop_after="sentences")["skipped"] == ["sentences"]

    docs = pq.read_table(sf / "documents.parquet")
    pq.write_table(docs.slice(0, docs.num_rows // 2), sf / "documents.parquet")
    assert run_kg_pipeline(spark, str(sf), cat, stop_after="sentences")["skipped"] == []
    assert [r["stage"] for r in cat.lineage()] == ["sentences", "sentences"]


def test_catalog_read_schema_equals_inferred(spark, pipeline_run, tmp_path):
    """A snapshot read with its recorded schema has exactly the schema
    parquet inference gives, partitioned ``triples`` included; a
    manifest entry without a schema still reads (by inference)."""
    import json
    import os

    cat, info = pipeline_run
    for t in ("sentences", "candidates", "label_matrix", "marginals", "triples"):
        path = os.path.join(cat.root, t, f"snapshot={info[t]}")
        assert cat.read(spark, t, info[t]).schema == spark.read.parquet(path).schema, t

    legacy = Catalog(str(tmp_path / "wh"))
    snap = legacy.write(info["triples_df"], "triples", partition_by=["pred"])
    mpath = os.path.join(legacy.root, "triples", "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["snapshots"][0]["schema"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    df = legacy.read(spark, "triples", snap)
    assert df.schema == cat.read(spark, "triples", info["triples"]).schema
    assert df.count() == info["triples_df"].count()


# ------------------------------------------- rotated-out contract tail
def test_rotated_out_tail_contract(spark):
    """The driver checks only the first 50 registry entries; everything
    past the window must keep its oracle green HERE so a regression in
    the tail fails the suite, not just a stale snapshot file."""
    import duckdb

    import __spark_entry__ as E
    from tools.check_contract import canon

    qs = E.queries()
    oq = E.oracle_sql()
    tail = list(qs)[50:]
    assert len(tail) >= 20  # the rotation actually leaves a tail
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    fails = []
    for name in tail:
        sdf = qs[name](spark, SF).toPandas()
        if name not in oq:
            if len(sdf) == 0:
                fails.append(f"{name}: rows-only query returned 0 rows")
            continue
        sc, sv = canon(sdf)
        dc, dv = canon(con.execute(oq[name]).df())
        if sc != dc:
            fails.append(f"{name}: columns {sc} vs {dc}")
        elif sv != dv:
            fails.append(f"{name}: values differ ({len(sv)} vs {len(dv)} rows)")
    con.close()
    assert not fails, fails
