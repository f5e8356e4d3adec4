"""Shared Spark session + cached pipeline fixtures (SURVEY.md §5.2).

One session-scoped local session; stage outputs cached so the suite
re-derives each DataFrame once.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


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
