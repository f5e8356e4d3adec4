"""Entity-link scoring against the alias dictionary
(SURVEY.md §2.11 N1 — new per north_rule; no reference counterpart).

Tiers (``TIERS``): exact alias match (weight 1.0) > casefolded (0.8) >
lemma/stem (0.6); score = tier_weight × prior; the winner per text is
the highest ``(score, entity_id)`` (prior-weighted, ties broken by
entity_id for determinism); below ``min_score`` stays unlinked.

Physical shape — the part that matters at 10¹² docs: the dictionary is
bounded and driver-side (the fixture gazetteer), as the reference's
``DictionaryMatch(d=…)`` dictionaries are, so ``link_text_map`` links
inside the row's own expression: it resolves each tier's best hit per
key on the driver and folds the three tiers into literal maps, so a
slot costs three map probes and a ``greatest`` — no join, no shuffle,
no broadcast, and the candidate table is never moved.  Its DuckDB twin
is ``oracle.LINK_TEXTS``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
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


def link_text_map(
    text: Column | str, aliases, min_score: float = 0.0
) -> Column:
    """The best link of ``text`` against a driver-side dictionary:
    ``struct(link_score, entity_id, canonical_name)``, or null when no
    alias matches at ``min_score`` or above.

    ``aliases``: rows ``(alias, entity_id, canonical_name, prior)`` with
    ``prior ≥ 0``, bounded (e.g. ``fixtures.ALIASES``).  Each tier's key
    (the text, its casefold, its lemma) maps to that tier's best-scored
    hit, resolved here on the driver, and ``greatest`` picks across the
    three.  A row that matches ``text`` at several tiers scores highest
    at its top tier, so its lower-tier entries never displace the
    winner.  Each literal map is one ``from_json`` of a JSON literal,
    which constant-folds at analysis; spelling the map as SQL (one
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
