"""Executed-plan shape of the KG chain's five stages and of the curation
operators.  Each stage is planned over its real snapshot input, as the
pass runs it (``salted_pass``); sf0.001, so broadcast choices are those
of small inputs."""

import pytest

from snorkel_spark.operators import dedup as D
from snorkel_spark.operators import similarity as S
from snorkel_spark.operators import textstats as T
from snorkel_spark.operators.parser import parse_sentences_full
from snorkel_spark.operators.sketches import kmv_shard_merge
from snorkel_spark.operators.temporal import asof_join
from snorkel_spark.sources import fixtures as FX
from snorkel_spark.sources.interleaved import synthesize_raw_documents
from tests.conftest import SF, plan_nodes, tree_nodes

# class-name marks of a Python stage: *Python* (ArrowEvalPython, …),
# MapInPandas, FlatMapGroupsInPandas, MapInArrow, …
PYTHON = ("Python", "InPandas", "InArrow")
# shuffles in each stage's plan (n_salts=16)
SHUFFLES = {"sentences": 0, "candidates": 1, "label_matrix": 0, "marginals": 1, "triples": 2}


def _names(df) -> list[str]:
    return [n for n, _ in plan_nodes(df)]


def _has_python(names) -> bool:
    return any(mark in n for n in names for mark in PYTHON)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _filter_conditions(df):
    """The expression nodes of each FilterExec's condition."""
    return [[e for e, _ in tree_nodes(node.condition())]
            for n, node in plan_nodes(df) if n == "FilterExec"]


@pytest.mark.parametrize("stage", list(SHUFFLES))
def test_stage_plan_shape(salted_pass, stage):
    """No Python node, the pinned shuffle count, and no Filter holding a
    lambda: a Catalyst lambda is interpreted per element outside
    whole-stage codegen, and a Filter that Spark infers above a computed
    array evaluates it a second time."""
    df = salted_pass["stages"][stage]
    names = _names(df)
    assert not _has_python(names), names
    assert names.count("ShuffleExchangeExec") == SHUFFLES[stage], names
    assert not [c for c in _filter_conditions(df) if "LambdaFunction" in c]


def test_full_parser_filters_hold_no_lambda(spark):
    """``parse_sentences_full`` explodes the spans as the whitespace
    parser does: no inferred Filter re-evaluates them."""
    df = parse_sentences_full(synthesize_raw_documents(spark, SF))
    assert not [c for c in _filter_conditions(df) if "LambdaFunction" in c]


def test_candidates_match_is_inset(salted_pass):
    """The gazetteer match is an InSet probe of the driver-side names,
    and the stage scans its sentences once and joins nothing: each
    mention carries its sentence's tokens."""
    df = salted_pass["stages"]["candidates"]
    names = _names(df)
    assert any("InSet" in c for c in _filter_conditions(df))
    assert [n for n in names if n.endswith("JoinExec") or n == "BroadcastExchangeExec"] == []
    assert names.count("FileSourceScanExec") == 1, names


def test_label_matrix_is_one_codegen_span(salted_pass):
    """Every fixture LF is a Catalyst Column: the matrix is one compiled
    projection, explode and filter over the scan."""
    names = _names(salted_pass["stages"]["label_matrix"])
    assert names.count("WholeStageCodegenExec") == 1, names


def test_marginals_broadcast_nothing(salted_pass):
    """The factor table is a literal map probed per label row."""
    assert "BroadcastExchangeExec" not in _names(salted_pass["stages"]["marginals"])


def test_triples_one_join_and_salted_aggregation(salted_pass):
    """The threshold join is the only join (the link is a literal-map
    probe per slot), and with n_salts > 0 the aggregation is two-phase:
    on (subj, pred, obj, _salt), then on (subj, pred, obj)."""
    nodes = plan_nodes(salted_pass["stages"]["triples"])
    names = [n for n, _ in nodes]
    assert [n for n in names if n.endswith("JoinExec")] == ["BroadcastHashJoinExec"], names
    assert names.count("BroadcastExchangeExec") == 1, names
    keys = sorted(tuple(sorted(g.name() for g in _seq(node.groupingExpressions())))
                  for n, node in nodes if n == "ObjectHashAggregateExec")
    spo = ("obj", "spouse_of", "subj")  # pred is a literal: its key is its value
    assert keys == [("_salt", *spo)] * 2 + [spo] * 2, keys


def _shape(df) -> list[str]:
    """Class names of ``df``'s executed plan, plus ``partial <fn>`` for
    each aggregate function computed partially (map-side) below a
    shuffle."""
    nodes = [(n, node) for n, node in plan_nodes(df)
             if n not in ("InputAdapter", "WholeStageCodegenExec")]
    # depth first, so the node after a (unary) shuffle is its input
    partial = [f"partial {e.aggregateFunction().prettyName()}"
               for (n, _), (below, agg) in zip(nodes, nodes[1:])
               if n == "ShuffleExchangeExec" and below.endswith("AggregateExec")
               for e in _seq(agg.aggregateExpressions())]
    return [n for n, _ in nodes] + partial


# (builder, marks the plan must show, its exact Exchange count or None)
CURATION = {
    "c4_clean": (lambda spark, docs, events, emb:
                 T.c4_line_filters(FX.docs_with_planted_lines(docs)), (), 0),
    "gopher_rules": (lambda spark, docs, events, emb:
                     T.gopher_rules(FX.docs_with_planted_quality(docs)), (), 0),
    "mixture_sample": (lambda spark, docs, events, emb: T.mixture_sample(
        docs, {f"src{i}": 1_000_000 - i * 50_000 for i in range(18)}), (), 0),
    "line_dedup": (lambda spark, docs, events, emb:
                   D.dedup_lines(FX.docs_with_repeated_lines(docs)), (), 0),
    "decontaminate": (lambda spark, docs, events, emb: T.decontaminate(
        docs.filter("doc_id % 97 != 0"), docs.filter("doc_id % 97 = 0")),
        ("BroadcastHashJoinExec",), None),
    "unigram_surprisal": (lambda spark, docs, events, emb: T.unigram_surprisal(docs),
                          ("BroadcastHashJoinExec",), None),
    "ivf_topk": (lambda spark, docs, events, emb: S.ivf_topk(
        emb, [0, 1, 2], k=3, n_centroids=8, n_probe=2),
        ("BroadcastHashJoinExec", "partial max_by"), None),
    "asof_join": (lambda spark, docs, events, emb: asof_join(
        events.filter("event_type = 'click'"), events.filter("event_type = 'purchase'")), (), 1),
    "semdedup": (lambda spark, docs, events, emb: S.semdedup(emb, n_centroids=8, threshold=0.95),
                 ("partial max_by",), None),
    # a given two-row clustering: the plan under test is the keep rule,
    # not the MinHash clustering
    "cluster_reps": (lambda spark, docs, events, emb: D.cluster_representatives(
        docs, clusters=spark.createDataFrame([("1", "1"), ("2", "1")],
                                             "doc_id string, cluster_id string")),
        ("partial min_by",), None),
    "kmv_merge": (lambda spark, docs, events, emb: kmv_shard_merge(
        docs, k=64, shingle_n=3, n_shards=8), ("TakeOrderedAndProjectExec",), None),
}


def _build(spark, op):
    docs, events, emb = (spark.read.parquet(f"{SF}/{t}.parquet")
                         for t in ("documents", "events", "embeddings"))
    return CURATION[op][0](spark, docs, events, emb)


@pytest.mark.parametrize("op", list(CURATION))
def test_curation_plan_shape(spark, op):
    """No Python node, the required marks, the pinned Exchange count,
    and no Filter holding a lambda (see ``test_stage_plan_shape``)."""
    _, required, exchanges = CURATION[op]
    df = _build(spark, op)
    shape = _shape(df)
    assert not _has_python(shape), shape
    assert [m for m in required if m not in shape] == [], shape
    if exchanges is not None:
        assert sum("Exchange" in n for n in shape) == exchanges, shape
    assert not [c for c in _filter_conditions(df) if "LambdaFunction" in c]


def test_line_dedup_filters_lines_once(spark):
    """The O(lines²) kept-line filter is evaluated once per page: one
    ArrayFilter in the whole executed plan."""
    exprs = [e for _, node in plan_nodes(_build(spark, "line_dedup"))
             for x in _seq(node.expressions()) for e, _ in tree_nodes(x)]
    assert exprs.count("ArrayFilter") == 1, exprs


def test_ngram_jaccard_runs_signature_kernel_once(spark):
    """The MinHash kernel runs once per document: the bucket-width
    window and the member lists read one band exchange, and the
    verification sets come from the shingle projection, not back
    through the kernel."""
    df = D.ngram_jaccard_pairs(spark.read.parquet(f"{SF}/documents.parquet"),
                               n_hashes=32, n_bands=16)
    df.collect()
    names = _names(df)
    assert names.count("MapInPandasExec") == 1, names
