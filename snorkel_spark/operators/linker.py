"""Entity-link scoring against the alias dictionary
(SURVEY.md §2.11 N1 — new per north_rule; no reference counterpart).

Tiers (``TIERS``, shared by both entry points): exact alias match
(weight 1.0) > casefolded (0.8) > lemma/stem (0.6); score = tier_weight
× prior; the winner per text is the highest ``(score, entity_id)``
(prior-weighted, ties broken by entity_id for determinism); below
``min_score`` stays unlinked.

Physical shape — the part that matters at 10¹² docs:
- a bounded, driver-side dictionary (the fixture gazetteer) links
  inside the row's own expression: ``link_text_map`` resolves each
  tier's best hit per key on the driver and folds the three tiers into
  literal maps, so a slot costs three map probes and a ``greatest`` —
  no join, no shuffle, no broadcast, and the candidate table is never
  moved;
- a dictionary that only exists as a DataFrame goes through
  ``link_mentions``: an OR of equality conditions would force a
  BroadcastNestedLoopJoin (mentions × dict rows), so it runs TWO
  broadcast **hash** joins (casefold key, lemma key) and unions them —
  each probe is O(1); the only shuffle is the per-mention ``max_by``
  hash aggregation on mention_id (uniform key, map-side partial
  aggregation applies).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parser import rule_lemma

_LINK = "struct<link_score:double,entity_id:string,canonical_name:string>"
# weight of an exact, a casefolded and a lemma match
TIERS = (1.0, 0.8, 0.6)


def _lemma(c: Column) -> Column:
    """The parser's rule lemma of each space-separated word."""
    return F.array_join(F.transform(F.split(c, " "), rule_lemma), " ")


def _lemma_py(s: str) -> str:
    """Python twin of ``_lemma``, for keying a driver-side dictionary."""
    return " ".join(w[:-1] if len(w) > 3 and w.endswith("s") else w.lower() for w in s.split(" "))


def _score(text: Column, alias: Column, prior: Column) -> Column:
    """tier weight × prior of one (text, dictionary row) hit."""
    exact, casefold, lemma = TIERS
    return (
        F.when(text == alias, exact).when(F.lower(text) == F.lower(alias), casefold)
        .otherwise(lemma) * prior
    )


def _prepared_aliases(alias_dict: DataFrame) -> DataFrame:
    return alias_dict.select(
        "alias", "entity_id", "canonical_name", "prior",
        F.lower("alias").alias("alias_ci"),
        _lemma(F.col("alias")).alias("alias_lemma"),
    )


def _scored_matches(m: DataFrame, alias_dict: DataFrame, text_col: str) -> DataFrame:
    """Union of two broadcast hash joins (ci key, lemma key) with the
    tiered score column attached."""
    a = _prepared_aliases(alias_dict)
    m = m.withColumn("_ci", F.lower(text_col)).withColumn(
        "_lemma", _lemma(F.col(text_col))
    )
    j_ci = m.join(F.broadcast(a), on=[m["_ci"] == a["alias_ci"]]).select(*m.columns, "alias", "entity_id", "canonical_name", "prior")
    j_lem = m.join(F.broadcast(a), on=[m["_lemma"] == a["alias_lemma"]]).select(*m.columns, "alias", "entity_id", "canonical_name", "prior")
    return j_ci.unionByName(j_lem).withColumn(
        "link_score", _score(F.col(text_col), F.col("alias"), F.col("prior"))
    )


def _best_links(
    mentions: DataFrame, alias_dict: DataFrame, text_col: str, min_score: float
) -> DataFrame:
    """(mention_id, entity_id, canonical_name, link_score): the winning
    link per mention — the shared aggregation of both link entry
    points."""
    scored = _scored_matches(mentions, alias_dict, text_col)
    return (
        scored.groupBy("mention_id")
        .agg(
            F.expr("max_by(entity_id, struct(link_score, entity_id))").alias("entity_id"),
            F.expr("max_by(canonical_name, struct(link_score, entity_id))").alias("canonical_name"),
            F.max("link_score").alias("link_score"),
        )
        .filter(F.col("link_score") >= min_score)
    )


def link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    text_col: str = "text",
    min_score: float = 0.0,
) -> DataFrame:
    """mentions → mentions + (entity_id, canonical_name, link_score)."""
    best = _best_links(mentions, alias_dict, text_col, min_score)
    return mentions.join(best, "mention_id")


def link_text_map(
    text: Column | str, aliases, min_score: float = 0.0
) -> Column:
    """The best link of ``text`` against a driver-side dictionary:
    ``struct(link_score, entity_id, canonical_name)``, or null when no
    alias matches at ``min_score`` or above.

    ``aliases``: rows ``(alias, entity_id, canonical_name, prior)`` with
    ``prior ≥ 0``, bounded (e.g. ``fixtures.ALIASES``).  Same tiers and
    winner as ``link_mentions``: each tier's key (the text, its
    casefold, its lemma) maps to that tier's best-scored hit, resolved
    here on the driver, and ``greatest`` picks across the three.  A row
    that matches ``text`` at several tiers scores highest at its top
    tier, which is its score in ``link_mentions``; its lower-tier
    entries never displace the winner.  Each
    literal map is one ``from_json`` of a JSON literal, which
    constant-folds at analysis; spelling the map as SQL (one
    ``named_struct`` per alias) costs seconds of analysis per column.
    """
    best: list[dict] = [{}, {}, {}]
    for alias, entity_id, canonical_name, prior in aliases:
        for tier, key in enumerate((alias, alias.lower(), _lemma_py(alias))):
            hit = (TIERS[tier] * prior, entity_id, canonical_name)
            if hit[0] >= min_score and hit > best[tier].get(key, ()):
                best[tier][key] = hit
    t = F.col(text) if isinstance(text, str) else text

    def probe(tier: int, key: Column) -> Column:
        js = json.dumps({k: {"link_score": s, "entity_id": e, "canonical_name": c}
                         for k, (s, e, c) in sorted(best[tier].items())})
        return F.from_json(F.lit(js), f"map<string,{_LINK}>")[key]

    return F.greatest(probe(0, t), probe(1, F.lower(t)), probe(2, _lemma(t)))
