"""Candidate extraction: pair matched mentions within a sentence
(SURVEY.md §2.3, C3/C4).

Reference: ``CandidateExtractor`` runs matchers over each span space,
forms the cross-product across arity slots, drops identical-span and
nested pairs and canonically orders them
(⚠ snorkel/candidates.py::CandidateExtractor/UDF ~L120–260,
reconstructed — SURVEY.md §0).

Spark design: the cross-product is **sentence-local**, so the mentions
are grouped per sentence (one shuffle on sentence_id, well distributed,
no skew) and each group explodes its ordered in-sentence pairs.  Every
mention carries its sentence's ``tokens`` (as a ``TemporarySpan`` reads
its sentence's words), so the helper columns need no join.  Dedup
across a re-run is a distinct on the deterministic content-hash
``candidate_id`` (replaces the reference's DB unique constraint,
SURVEY.md §4.1).

The extractor also precomputes the LF-helper columns (SURVEY.md §2.5:
``text_between``, ``tokens_between``) as ordinary DataFrame columns so
labeling functions downstream are pure column/vectorized ops and
Catalyst can prune them when unused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CANDIDATE_COLS = [
    "candidate_id", "rel_type", "split", "doc_id", "sentence_id", "position",
    "subj_text", "subj_ws", "subj_we", "obj_text", "obj_ws", "obj_we",
    "tokens_between", "text_between", "n_tokens",
]


def extract_candidates(mentions: DataFrame, rel_type: str = "spouse_of") -> DataFrame:
    """Pair the mentions of each sentence → candidates: every (subj, obj)
    with subj starting strictly before obj and neither span containing
    the other."""
    # The pairs come from a grouping, not a self-join: the two join
    # sides would be the SAME expensive subtree (ngram explode + matcher
    # probe), evaluated twice.  Grouping evaluates it once and shuffles
    # once.  Per-sentence mention counts are bounded by sentence length
    # × n_max, so the w² pair explosion is bounded per row exactly like
    # a join's per-key output.
    # Null sentence_ids are dropped explicitly: a groupBy would lump
    # every null-key mention into ONE cross-document group.
    m = mentions.filter(F.col("sentence_id").isNotNull())
    # doc_id/position/n_tokens/tokens are functionally determined by
    # sentence_id, so ``first`` is deterministic in value, and the
    # collect_list already makes this an ObjectHashAggregate (no sort).
    grouped = m.groupBy("sentence_id").agg(
        *[F.first(c).alias(c) for c in ("doc_id", "position", "n_tokens", "tokens")],
        F.collect_list(F.struct("word_start", "word_end", "text")).alias("_ms"),
    )
    # with a.word_start < b.word_start, "neither span contains the
    # other" is a.word_end < b.word_end
    pairs = F.expr(
        "flatten(transform(_ms, pa -> "
        "transform(filter(_ms, pb -> pa.word_start < pb.word_start "
        "and pa.word_end < pb.word_end), "
        "pb -> struct(pa as a, pb as b))))"
    )
    cand = (
        grouped.select(
            "doc_id", "sentence_id", "position", "n_tokens", "tokens",
            F.explode(pairs).alias("_pr"),
        )
        .select(
            "doc_id", "sentence_id", "position", "n_tokens", "tokens",
            F.col("_pr.a.word_start").alias("subj_ws"),
            F.col("_pr.a.word_end").alias("subj_we"),
            F.col("_pr.a.text").alias("subj_text"),
            F.col("_pr.b.word_start").alias("obj_ws"),
            F.col("_pr.b.word_end").alias("obj_we"),
            F.col("_pr.b.text").alias("obj_text"),
        )
        # H2 get_between_tokens: tokens strictly between the spans
        .withColumn(
            "tokens_between",
            F.expr("slice(tokens, subj_we + 2, greatest(obj_ws - subj_we - 1, 0))"),
        )
        # H1 get_text_between
        .withColumn("text_between", F.array_join("tokens_between", " "))
    )
    return _with_id(cand, rel_type, ["subj_ws", "subj_we", "obj_ws", "obj_we"]).select(
        *CANDIDATE_COLS
    )


def _with_id(cand: DataFrame, rel_type: str, span_cols: list[str]) -> DataFrame:
    """``candidate_id``, ``rel_type`` and ``split``, then the dedup.
    rel_type is part of the hash so candidates of two relation types
    over the same span pair never collide when their tables are unioned
    (SURVEY.md §1.1 id spec)."""
    return (
        cand.withColumn(
            "candidate_id",
            F.md5(F.concat_ws("|", F.lit(rel_type), F.col("sentence_id"), *span_cols)),
        )
        .withColumn("rel_type", F.lit(rel_type))
        .withColumn("split", F.lit(0))
        # distinct-on-ALL-columns, not dropDuplicates([candidate_id]):
        # equivalent (every column here is a deterministic function of
        # the id's hash preimage) but plans as a pure grouping-key
        # HashAggregate, while a subset-dedup compiles to first(string)
        # aggregates whose variable-width buffers force SortAggregate —
        # two extra full sorts of the wide pair rows at corpus scale
        .dropDuplicates()
    )


def extract_candidates_kary(slot_mentions: list[DataFrame], rel_type: str) -> DataFrame:
    """k-ary candidate extraction (arity ≥ 2): one mention table per
    slot, paired sentence-locally with slots in strict left-to-right
    DISJOINT order (e_i ends before e_{i+1} starts) — the common k-ary
    reading of the reference's ``candidate_subclass(name, [args...])``
    with arbitrary arity (⚠ snorkel/models/candidate.py, reconstructed).

    Spark shape: a chain of equi-joins on ``sentence_id`` with the
    ordering residuals evaluated inline — each join shuffles on the
    same well-distributed key, so Catalyst/AQE co-partitions the chain
    (one exchange per side, no cross product).  Slot columns come out
    as ``e{i}_text/e{i}_ws/e{i}_we``; ``candidate_id`` hashes rel_type
    + sentence + every slot span.
    """
    k = len(slot_mentions)
    if k < 2:
        raise ValueError("need at least 2 slots")
    cur = slot_mentions[0].select(
        "doc_id", "sentence_id", "position", "n_tokens",
        F.col("word_start").alias("e0_ws"), F.col("word_end").alias("e0_we"),
        F.col("text").alias("e0_text"),
    )
    for i in range(1, k):
        nxt = slot_mentions[i].select(
            F.col("sentence_id").alias("_sid"),
            F.col("word_start").alias(f"e{i}_ws"), F.col("word_end").alias(f"e{i}_we"),
            F.col("text").alias(f"e{i}_text"),
        )
        cur = cur.join(
            nxt,
            on=[
                cur["sentence_id"] == nxt["_sid"],
                F.col(f"e{i - 1}_we") < nxt[f"e{i}_ws"],
            ],
        ).drop("_sid")
    cand = _with_id(cur, rel_type, [c for i in range(k) for c in (f"e{i}_ws", f"e{i}_we")])
    out_cols = ["candidate_id", "rel_type", "split", "doc_id", "sentence_id",
                "position", "n_tokens"]
    out_cols += [c for i in range(k) for c in (f"e{i}_text", f"e{i}_ws", f"e{i}_we")]
    return cand.select(*out_cols)


def pretagged_candidates(
    mentions_with_tags: DataFrame,
    subj_tag: str,
    obj_tag: str,
    rel_type: str,
) -> DataFrame:
    """C4 ``PretaggedCandidateExtractor`` (⚠ snorkel/candidates.py
    ~L260–330): filter a pre-tagged mention table by entity type, then
    pair a subj-tagged span with a later, disjoint obj-tagged span of
    the same sentence — the CDR-tutorial path where NER tags come from
    the corpus.  The slots come out as ``e0_*`` (subj) and ``e1_*``
    (obj), as from ``extract_candidates_kary``."""
    slots = [mentions_with_tags.filter(F.col("tag") == t) for t in (subj_tag, obj_tag)]
    return extract_candidates_kary(slots, rel_type)
