"""B6 skew fixture: Zipf-ish entity distribution → salted two-phase
aggregation must (a) produce identical results to the plain group-by
and (b) bound the per-group work: with s salts, the biggest partial
group shrinks ~s× (the north_rule skew criterion)."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def skewed_mentions(spark):
    # 10k mentions: 30% belong to entity E0, the rest spread over 136
    n = 10_000
    return spark.range(n).select(
        F.col("id").alias("mention_id"),
        F.when(F.col("id") % 10 < 3, "E0")
        .otherwise(F.concat(F.lit("E"), (F.col("id") % 136 + 1).cast("string")))
        .alias("entity_id"),
    ).cache()


def test_salted_agg_equals_plain(spark, skewed_mentions):
    plain = skewed_mentions.groupBy("entity_id").agg(F.count("*").alias("n_mentions"))
    salted = (
        skewed_mentions.withColumn("_salt", F.pmod(F.xxhash64("mention_id"), F.lit(16)))
        .groupBy("entity_id", "_salt")
        .agg(F.count("*").alias("c"))
        .groupBy("entity_id")
        .agg(F.sum("c").alias("n_mentions"))
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salting_bounds_partial_group_size(spark, skewed_mentions):
    n_salts = 16
    plain_max = (
        skewed_mentions.groupBy("entity_id").count().agg(F.max("count")).collect()[0][0]
    )
    salted_max = (
        skewed_mentions.withColumn("_salt", F.pmod(F.xxhash64("mention_id"), F.lit(n_salts)))
        .groupBy("entity_id", "_salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # the hot key's 3000 rows split across 16 salts → ≤ plain_max/8
    assert plain_max >= 3000
    assert salted_max <= plain_max / (n_salts / 2)


def test_skewed_triples_salted_equals_unsalted(spark, candidates, label_matrix):
    """canonical_triples with and without salting agree on a candidate
    set where one entity pair dominates (replicate pat0 candidates)."""
    from snorkel_spark.labelmodel.model import majority_vote
    from snorkel_spark.operators.canonicalize import canonical_triples

    # skew: every pat0 candidate mapped onto the SAME entity pair
    mv = majority_vote(label_matrix)
    entity = (
        F.when(F.expr("cast(doc_id as bigint) % 3 = 0"), "E0")
        .otherwise(F.concat(F.lit("E"), F.expr("cast(doc_id as bigint) % 137")))
    )
    t_plain = canonical_triples(candidates, mv, entity, entity, n_salts=0)
    t_salted = canonical_triples(candidates, mv, entity, entity, n_salts=8)
    cols = ["subj", "pred", "obj", "prob", "n_evidence"]
    assert t_plain.select(*cols).exceptAll(t_salted.select(*cols)).count() == 0
    assert t_salted.select(*cols).exceptAll(t_plain.select(*cols)).count() == 0