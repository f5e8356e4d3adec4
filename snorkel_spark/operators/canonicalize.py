"""Canonicalization + triple materialization with salted two-phase
aggregation (SURVEY.md §2.11 N2/N3/N5 — new per north_rule).

Triples: candidates above the marginal threshold, joined with their
linked subj/obj entities, aggregated to (subj, pred, obj) with max
probability and top-k evidence.

Skew (north_rule explicitly): high-frequency entities make the triple
key skewed.  AQE's skew handling covers joins but NOT groupBy, so the
aggregation is **salted two-phase**: partial agg on
(key, salt = pmod(xxhash64(candidate_id), n_salts)), then final agg on
key.  For the commutative/associative aggregates used here (count, max,
bounded evidence lists) the two-phase result is exactly the one-phase
result — asserted by the skew test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def canonical_triples(
    candidates: DataFrame,
    marginals: DataFrame,
    subj: Column,
    obj: Column,
    pred: str = "spouse_of",
    threshold: float = 0.5,
    evidence_k: int = 5,
    n_salts: int = 0,
) -> DataFrame:
    """candidates ⋈ marginals(>τ) → (subj, pred, obj, prob, n_evidence,
    evidence).

    ``subj``/``obj``: each slot's entity id as an expression over the
    candidate's columns (e.g. ``linker.link_text_map(...)["entity_id"]``),
    evaluated only on the candidates above the threshold; a candidate
    with a null slot is dropped.
    ``n_salts=0`` → plain two-phase hash agg (Spark's partial+final);
    ``n_salts>0`` → explicit salting for skewed keys.
    """
    probs = marginals.select("candidate_id", "prob_true").filter(F.col("prob_true") > threshold)
    # Null slots are dropped by a generator, not a Filter: Catalyst
    # pushes a Filter on the slot columns below the join (inlining the
    # slot expressions), which evaluates them on every candidate; a
    # Generate is a pushdown barrier.
    slots = F.filter(F.array(F.struct(subj.alias("subj"), obj.alias("obj"))),
                     lambda s: s["subj"].isNotNull() & s["obj"].isNotNull())
    base = (
        candidates.join(probs, "candidate_id")
        .select("candidate_id", "doc_id", "sentence_id", "prob_true", F.inline(slots))
        .withColumn("pred", F.lit(pred))
    )
    ev = F.struct("doc_id", "sentence_id", "candidate_id")
    if n_salts and n_salts > 1:
        partial = (
            base.withColumn("_salt", F.pmod(F.xxhash64("candidate_id"), F.lit(n_salts)))
            .groupBy("subj", "pred", "obj", "_salt")
            .agg(
                F.max("prob_true").alias("prob"),
                F.count("*").alias("n_evidence"),
                F.slice(F.sort_array(F.collect_list(ev)), 1, evidence_k).alias("evidence"),
            )
        )
        return (
            partial.groupBy("subj", "pred", "obj")
            .agg(
                F.max("prob").alias("prob"),
                F.sum("n_evidence").alias("n_evidence"),
                F.slice(F.sort_array(F.flatten(F.collect_list("evidence"))), 1, evidence_k).alias(
                    "evidence"
                ),
            )
        )
    return base.groupBy("subj", "pred", "obj").agg(
        F.max("prob_true").alias("prob"),
        F.count("*").alias("n_evidence"),
        F.slice(F.sort_array(F.collect_list(ev)), 1, evidence_k).alias("evidence"),
    )


def triple_prf(emitted: DataFrame, gold: DataFrame) -> dict:
    """P/R of emitted (subj, pred, obj) sets vs gold — the north_rule
    acceptance gate (≥0.95 both)."""
    e = emitted.select("subj", "pred", "obj").distinct()
    g = gold.select("subj", "pred", "obj").distinct()
    tp = e.join(g, ["subj", "pred", "obj"], "left_semi").count()
    ne, ng = e.count(), g.count()
    prec = tp / ne if ne else 0.0
    rec = tp / ng if ng else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "n_emitted": ne, "n_gold": ng, "precision": prec, "recall": rec, "f1": f1}
