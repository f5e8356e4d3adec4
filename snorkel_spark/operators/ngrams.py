"""Candidate spaces: the Ngrams span generator (SURVEY.md §2.3, C1/C2).

Reference: ``Ngrams(n_max, split_tokens)`` yields every contiguous token
window of length 1..n_max per sentence as a char-span
(⚠ snorkel/candidates.py::Ngrams ~L40–120, reconstructed — SURVEY.md §0).

Spark design: the window enumeration is a *computed array explode* —
``flatten(transform(...))`` built entirely from JVM built-ins, then one
``explode``.  Catalyst pipelines explode → filter → join into a single
stage, so the (L·n_max)-row blowup never hits a shuffle before the
matcher filter prunes it.  No Python anywhere.

Mention schema (replaces the reference's TemporarySpan objects,
⚠ snorkel/models/context.py::TemporarySpan ~L220–380):
    doc_id, sentence_id, position, word_start, word_end (inclusive),
    n int, text string, n_tokens int (sentence length),
    tokens array<string> (the sentence's tokens, as a span reads its
    sentence's words; pruned by Catalyst wherever nothing reads it)

``mention_id`` is a deterministic content hash — replaces DB sequence
ids so retries/resume are idempotent (SURVEY.md §4.2 item 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ngram_mentions(
    sentences: DataFrame,
    n_max: int = 3,
    attrib: str = "tokens",
    split_tokens: tuple[str, ...] = (),
    n_values: list[int] | None = None,
    carry_attribs: tuple[str, ...] = (),
) -> DataFrame:
    """Enumerate all 1..n_max-gram spans of every sentence.

    ``attrib`` selects the token attribute to build span text from
    (``tokens`` or ``lemmas``) — mirrors the reference's
    ``attrib='words'/'lemmas'`` knob.

    ``n_values``: restrict generation to these window lengths (must be
    ⊆ 1..n_max).  This is the *dictionary-length pruning* planner rule:
    when the only consumer is a matcher that provably rejects other
    lengths (e.g. a full-name gazetteer of bigrams —
    ``DictionaryMatch.mention_lengths()``), skipping their
    generation halves-or-better the explode + probe volume without
    changing any result.  Default None = all of 1..n_max.

    ``split_tokens``: characters (e.g. ``('-', '/')``) on which
    single tokens are re-split — for every 1-gram whose token contains
    a split char, the non-empty sub-parts are emitted as ADDITIONAL
    spans at the same word index (the reference's
    ``Ngrams(split_tokens=[...])`` CDR-tutorial knob,
    ⚠ snorkel/candidates.py::Ngrams ~L40–120, reconstructed).  Still a
    pure computed-array explode — no Python, no extra shuffle.

    ``carry_attribs``: additional sentence parallel-array columns (e.g.
    ``pos_tags``/``ner_tags`` from ``parser.with_pos_tags``/
    ``with_ner_tags``) whose span slice is carried onto each mention as
    a space-joined string of the same name — so matchers probe them
    exactly like ``text`` (the reference's ``attrib='ner_tags'``
    contract).  Computed in the same explode projection: free.
    """
    # windows: for n in n_values (default 1..n_max), for s in 0..L-n →
    # struct(ws=s, we=s+n-1).  `sequence(0, L-n)` is invalid when L < n
    # (descending sequence), so clamp via a greatest() guard and slice
    # to the true count.
    ns = sorted(set(n_values)) if n_values else list(range(1, n_max + 1))
    if any(n < 1 or n > n_max for n in ns):
        raise ValueError(f"n_values {ns} not within 1..{n_max}")
    ns_arr = "array(" + ", ".join(str(n) for n in ns) + ")"
    windows = f"""
      flatten(transform({ns_arr}, wn ->
        slice(
          transform(sequence(0, greatest(n_tokens - wn, 0)),
                    ws -> named_struct('ws', ws, 'we', ws + wn - 1, 'n', wn)),
          1, greatest(n_tokens - wn + 1, 0))))
    """
    keep = ["doc_id", "sentence_id", "position", "n_tokens", "tokens"]
    # dict.fromkeys: attrib may be "tokens", and no column is selected twice
    src_cols = list(dict.fromkeys([*keep, attrib, *carry_attribs]))
    base = (
        sentences.select(
            *src_cols,
            F.explode(F.expr(windows)).alias("w"),
        )
        .select(
            *keep,
            F.col("w.ws").cast("int").alias("word_start"),
            F.col("w.we").cast("int").alias("word_end"),
            F.col("w.n").cast("int").alias("n"),
            F.expr(f"array_join(slice({attrib}, w.ws + 1, w.n), ' ')").alias("text"),
            *[
                F.expr(f"array_join(slice({c}, w.ws + 1, w.n), ' ')").alias(c)
                for c in carry_attribs
            ],
        )
    )
    if split_tokens and 1 in ns:
        # Sub-spans are 1-grams at the parent's word index, so they only
        # exist when 1 is in the effective n-value set — combining
        # dictionary-length pruning (e.g. n_values=[2]) with split_tokens
        # must not resurrect 1-gram rows the pruning contract excludes.
        # char class of the split chars, regex-escaped
        cls = "[" + "".join("\\" + c for c in split_tokens) + "]"
        subs = (
            sentences.select(
                *src_cols,
                F.posexplode(attrib).alias("ws", "tok"),
            )
            .filter(F.col("tok").rlike(cls))
            .select(
                *keep,
                F.col("ws").cast("int").alias("word_start"),
                F.col("ws").cast("int").alias("word_end"),
                F.lit(1).cast("int").alias("n"),
                # array_distinct: a token with repeated identical
                # sub-parts ('a-a') must emit ONE row, not two rows that
                # collide on mention_id (same sentence/ws/we/text)
                F.explode(F.array_distinct(F.split(F.col("tok"), cls))).alias("text"),
                # a sub-span inherits its parent token's attribute value
                *[F.expr(f"element_at({c}, ws + 1)").alias(c) for c in carry_attribs],
            )
            .filter(F.col("text") != "")
        )
        base = base.unionByName(subs)
    # text participates in the hash so a sub-token span at the same
    # (sentence, word) as its parent keeps a distinct id
    return base.withColumn(
        "mention_id", F.md5(F.concat_ws("|", "sentence_id", "word_start", "word_end", "text"))
    )
