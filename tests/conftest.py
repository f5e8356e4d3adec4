"""Shared Spark session + cached pipeline fixtures (SURVEY.md §5.2).

One session-scoped local session; stage outputs cached so the suite
re-derives each DataFrame once.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def tree_nodes(root):
    """``(class name, node)`` for a JVM plan or expression tree, depth
    first.  An adaptive plan or a query stage stands for the plan it
    wraps."""
    name = root.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return tree_nodes(root.executedPlan())
    if name.endswith("QueryStageExec"):
        return tree_nodes(root.plan())
    out = [(name, root)]
    children = root.children()
    for i in range(children.size()):
        out += tree_nodes(children.apply(i))
    return out


def plan_nodes(df):
    """``(class name, node)`` for every node of ``df``'s executed plan."""
    return tree_nodes(df._jdf.queryExecution().executedPlan())


@pytest.fixture(scope="session")
def spark():
    from snorkel_spark.session import get_spark

    s = get_spark(app_name="snorkel_spark_tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def raw(spark):
    from snorkel_spark.sources.interleaved import synthesize_raw_documents

    return synthesize_raw_documents(spark, SF).cache()


@pytest.fixture(scope="session")
def sentences(spark, raw):
    from snorkel_spark.operators.parser import parse_sentences

    return parse_sentences(raw).cache()


@pytest.fixture(scope="session")
def mentions(sentences):
    from snorkel_spark.operators.ngrams import ngram_mentions

    return ngram_mentions(sentences, n_max=2).cache()


@pytest.fixture(scope="session")
def persons(spark, mentions):
    from snorkel_spark.operators.matchers import person_matcher
    from snorkel_spark.sources import fixtures as FX

    return person_matcher(FX.PERSON_FULL_NAMES).apply(mentions).cache()


@pytest.fixture(scope="session")
def candidates(spark, sentences):
    from snorkel_spark.plans.pipeline import build_candidates

    return build_candidates(sentences).cache()


@pytest.fixture(scope="session")
def fixture_lfs(spark):
    from snorkel_spark.functions.labeling import make_fixture_lfs
    from snorkel_spark.sources import fixtures as FX

    return make_fixture_lfs(FX.known_spouse_names())


@pytest.fixture(scope="session")
def label_matrix(candidates, fixture_lfs):
    from snorkel_spark.functions.labeling import apply_lfs

    return apply_lfs(candidates, fixture_lfs).cache()


@pytest.fixture(scope="session")
def gold(spark):
    from snorkel_spark.sources import fixtures as FX

    return FX.gold_candidates(spark, SF).cache()


@pytest.fixture(scope="session")
def salted_pass(spark, tmp_path_factory):
    """One ``run_kg_pipeline`` pass with ``n_salts=16``: the ids of the
    Spark jobs it ran, and the DataFrame each stage built over its real
    snapshot input (captured from ``PipelineContext.run_stage``)."""
    from snorkel_spark.plans.pipeline import PipelineContext, run_kg_pipeline
    from snorkel_spark.storage import Catalog

    built = {}
    run_stage = PipelineContext.run_stage

    def capture(self, stage, inputs, build, **kw):
        def keep():
            built[stage] = build()
            return built[stage]

        return run_stage(self, stage, inputs, keep, **kw)

    sc = spark.sparkContext
    sc.setJobGroup("salted_pass", "one run_kg_pipeline pass")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(PipelineContext, "run_stage", capture)
            run_kg_pipeline(spark, SF, Catalog(str(tmp_path_factory.mktemp("wh_salted"))),
                            n_salts=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {"jobs": list(sc.statusTracker().getJobIdsForGroup("salted_pass")), "stages": built}
