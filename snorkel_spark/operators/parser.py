"""Sentence projection (SURVEY.md §2.2, P1/P2).

Reference: ``CorpusParser`` drives a spaCy pipeline per document and
persists per-sentence parallel arrays
(⚠ snorkel/parser/corpus_parser.py::CorpusParser ~L20–80,
⚠ snorkel/parser/spacy_parser.py::Spacy ~L30–150 — reconstructed, see
SURVEY.md §0).  Here a "sentence" is a text span of the interleaved
document (the synthesizer emits one sentence per text chunk), and
tokenization is whitespace splitting — exactly what the corpus'
word-salad text calls for, and fully expressible with JVM built-ins.

``parse_sentences`` is a pure built-in-expression plan (split/filter/
transform) with no Python stage; it emits the canonical schema:
    doc_id string, sentence_id string, position int, text string,
    n_tokens int, tokens array<string>, lemmas array<string>

Char offsets are *derived arithmetically on demand* (single-space
tokenization ⇒ char_start(word i) = Σ_{j<i} len(tok_j)+1) — see
``word_char_start`` — instead of being materialized per token, which
removes the widest column from every shuffle at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SENTENCE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("sentence_id", StringType()),
        StructField("position", IntegerType()),
        StructField("text", StringType()),
        StructField("n_tokens", IntegerType()),
        StructField("tokens", ArrayType(StringType())),
        StructField("lemmas", ArrayType(StringType())),
    ]
)


def rule_lemma(word: Column) -> Column:
    """Rule lemmatizer (no spaCy offline — SURVEY.md §2.2 P2): strip a
    plural-ish trailing 's' from words longer than 3 characters,
    otherwise lowercase the word."""
    return F.when(
        (F.length(word) > 3) & word.endswith("s"), word.substr(F.lit(1), F.length(word) - 1)
    ).otherwise(F.lower(word))


def parse_sentences(raw: DataFrame) -> DataFrame:
    """raw_documents → sentences.

    Tokenization is whitespace splitting with empty-token filtering —
    runs of spaces/tabs never produce '' tokens (on a clean
    single-spaced corpus this is byte-identical to split-on-space).
    Java's ``\\s`` is the ASCII whitespace class, so U+00A0 stays
    inside a token.  For multi-sentence, punctuated text use
    ``parse_sentences_full``.
    """
    return (
        # explode_outer: the filter below drops the null row of an empty
        # array, and unlike explode it invites no inferred size(spans) > 0
        # filter that would evaluate the spans expression a second time
        raw.select("doc_id", F.explode_outer("spans").alias("span"))
        .filter("span.kind = 'text' and span.text != ''")
        .select(
            "doc_id",
            F.concat_ws(":", "doc_id", F.col("span.offset")).alias("sentence_id"),
            F.col("span.offset").alias("position"),
            F.col("span.text").alias("text"),
        )
        .withColumn("tokens", F.filter(F.split("text", "\\s+"), lambda t: t != F.lit("")))
        .withColumns({"n_tokens": F.size("tokens"), "lemmas": F.transform("tokens", rule_lemma)})
        .select("doc_id", "sentence_id", "position", "text", "n_tokens", "tokens", "lemmas")
    )


# Sentence runs: maximal [^.!?]+ stretches plus their trailing
# terminators.  No lookbehind — the same pattern runs under Java regex
# (Spark) and RE2 (DuckDB), so the SQL oracle splits identically.
# Known naivety vs a statistical splitter: abbreviation periods
# ("Dr.") terminate a sentence (⚠ the reference delegates this to
# spaCy's sentencizer — snorkel/parser/spacy_parser.py, reconstructed).
SENTENCE_RUN_RGX = "[^.!?]+[.!?]*|[.!?]+"
# Word-ish tokens or single punctuation glyphs (spaCy-style shape).
TOKEN_RGX = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"


def parse_sentences_full(raw: DataFrame) -> DataFrame:
    """P1 with real sentence splitting + punctuation-aware tokenization
    (SURVEY.md §2.2): each text span splits into sentences at
    ``[.!?]`` boundaries; tokens are alnum runs or single punctuation
    marks; whitespace runs and empty sentences are dropped.  All
    built-in expressions (regexp_extract_all / posexplode / filter) —
    zero Python, whole-stage codegen, and an exact DuckDB twin.

    sentence_id = doc_id:offset:sent_idx (sent_idx indexes the raw
    sentence runs, pre-filter, so ids are stable across both engines).
    """
    return (
        # explode_outer, not explode: see parse_sentences
        raw.select("doc_id", F.explode_outer("spans").alias("span"))
        .filter("span.kind = 'text' and span.text != ''")
        .select(
            "doc_id",
            F.col("span.offset").alias("position"),
            # patterns passed as literal Columns — NOT interpolated into
            # SQL strings, where '\s' would be eaten by literal escaping
            F.posexplode(
                F.regexp_extract_all(F.col("span.text"), F.lit(SENTENCE_RUN_RGX), F.lit(0))
            ).alias("sent_idx", "sent_raw"),
        )
        .withColumn("text", F.trim(F.col("sent_raw")))
        .filter("text != ''")
        .withColumn(
            "tokens", F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RGX), F.lit(0))
        )
        .filter(F.size("tokens") > 0)
        .withColumns(
            {
                "sentence_id": F.concat_ws(":", "doc_id", "position", "sent_idx"),
                "n_tokens": F.size("tokens"),
                "lemmas": F.transform("tokens", rule_lemma),
            }
        )
        .select("doc_id", "sentence_id", "position", "text", "n_tokens", "tokens", "lemmas")
    )


# ---------------------------------------------------------------------
# Token-attribute columns: pos_tags / ner_tags parallel arrays — the
# reference ``Sentence`` schema contract LFs and NER matchers bind to
# (⚠ snorkel/models/context.py::Sentence ~L100–220 carries spaCy
# pos_tags/ner_tags; reconstructed — SURVEY.md §0).  No statistical
# tagger exists offline, so POS is an honest rule tagger (Penn-ish
# coarse tags, deterministic, byte-identical in Spark and DuckDB) and
# NER is gazetteer-driven.  Both are pure projections — no shuffle, no
# Python — so at 100 TB they ride the existing parse scan for free.
# ---------------------------------------------------------------------

# Engine-portable POS rule CASE: {w} = token slot, {re} = regex fn
# (Spark: regexp_like, DuckDB: regexp_matches — both partial-match, so
# patterns carry their own anchors).  Order matters: first hit wins.
POS_CASE_SQL = (
    "CASE WHEN {re}({w}, '^[0-9]+([.][0-9]+)?$') THEN 'CD'"
    " WHEN lower({w}) IN ('the', 'a', 'an') THEN 'DT'"
    " WHEN lower({w}) IN ('of', 'in', 'on', 'at', 'by', 'with', 'from', 'to') THEN 'IN'"
    " WHEN lower({w}) IN ('and', 'or', 'but') THEN 'CC'"
    " WHEN lower({w}) IN ('he', 'she', 'it', 'they', 'we', 'you', 'i') THEN 'PRP'"
    " WHEN {re}({w}, '^[^A-Za-z0-9]+$') THEN 'PUNCT'"
    " WHEN length({w}) > 4 AND {w} LIKE '%ing' THEN 'VBG'"
    " WHEN length({w}) > 4 AND {w} LIKE '%ed' THEN 'VBD'"
    " WHEN length({w}) > 3 AND {w} LIKE '%ly' THEN 'RB'"
    " WHEN {re}({w}, '^[A-Z]') THEN 'NNP'"
    " WHEN length({w}) > 3 AND {w} LIKE '%s' THEN 'NNS'"
    " ELSE 'NN' END"
)


def with_pos_tags(sentences: DataFrame) -> DataFrame:
    """Attach ``pos_tags`` (parallel to ``tokens``): rule POS tagger —
    numbers→CD, function words→DT/IN/CC/PRP, punctuation→PUNCT,
    -ing/-ed/-ly suffixes→VBG/VBD/RB, Capitalized→NNP, plural-ish→NNS,
    else NN.  Pure ``transform`` expression with an exact DuckDB twin
    (the same CASE via ``POS_CASE_SQL``)."""
    case = POS_CASE_SQL.format(w="pt", re="regexp_like")
    return sentences.withColumn(
        "pos_tags", F.expr(f"transform(tokens, pt -> {case})")
    )


def with_ner_tags(
    sentences: DataFrame,
    names,
    tag: str = "PERSON",
    other: str = "O",
) -> DataFrame:
    """Attach ``ner_tags`` (parallel to ``tokens``): gazetteer NER — a
    token is tagged iff it is part of a gazetteer name occurrence
    (1-token names: exact match; 2-token names: the token plus its
    left OR right neighbor forms the name).

    ``names``: an iterable of 1- or 2-token names, held on the driver
    (e.g. ``fixtures.PERSON_FULL_NAMES``), as the reference holds its
    gazetteers as Python dictionaries.  They become literal hash maps,
    so a token costs O(1) probes inside one ``transform`` projection:
    no join, no shuffle, and building the plan runs no Spark job.

    Mirrors the reference's spaCy ``ner_tags`` array the NER matchers
    bind to (⚠ snorkel/matchers.py PersonMatcher =
    RegexMatchEach(attrib='ner_tags', rgx='PERSON') ~L290–330)."""
    aliases = sorted(set(names))
    unis = [a for a in aliases if " " not in a]
    bis = [a for a in aliases if len(a.split(" ")) == 2]
    longer = [a for a in aliases if len(a.split(" ")) > 2]
    if longer:
        raise ValueError(f"with_ner_tags supports 1- and 2-token names; got {longer[:3]}")

    def lit_map(keys):
        pairs = []
        for k in keys:
            pairs.extend((F.lit(k), F.lit(True)))
        return F.create_map(*pairs) if pairs else None

    uni_map, bi_map = lit_map(unis), lit_map(bis)

    def tag_token(t, i):
        toks = F.col("tokens")
        cond = F.lit(False)
        if uni_map is not None:
            cond = cond | F.coalesce(F.map_contains_key(uni_map, t), F.lit(False))
        if bi_map is not None:
            nxt = F.concat(t, F.lit(" "), F.get(toks, i + F.lit(1)))
            prv = F.concat(F.get(toks, i - F.lit(1)), F.lit(" "), t)
            cond = cond | F.coalesce(F.map_contains_key(bi_map, nxt), F.lit(False))
            cond = cond | F.coalesce(F.map_contains_key(bi_map, prv), F.lit(False))
        return F.when(cond, F.lit(tag)).otherwise(F.lit(other))

    return sentences.withColumn("ner_tags", F.transform("tokens", tag_token))


# Function words for the shallow dependency heuristic.
_FUNC_WORDS = "('of', 'the', 'a')"


def with_dependencies(sentences: DataFrame) -> DataFrame:
    """Attach ``dep_parents``/``dep_labels`` parallel arrays — the
    Sentence schema hook dependency-context LFs need
    (⚠ snorkel/models/context.py::Sentence carries spaCy dep arrays;
    reconstructed — SURVEY.md §0).

    No statistical parser runs offline, so this is an HONEST shallow
    heuristic, not a real parse: token i attaches to the previous
    content token (function words 'of'/'the'/'a' are skipped one step),
    labels are 'root'/'prep'/'det'/'dep'.  The point is the column
    contract + the pure-expression shape (swap in a real parser via
    ``mapInPandas`` when one is available); LFs written against these
    columns run unchanged either way.
    """
    parents = F.expr(
        f"""
        transform(tokens, (dt, di) -> case
          when di = 0 then -1
          when di >= 2 and element_at(tokens, di) in {_FUNC_WORDS} then di - 2
          else di - 1 end)
        """
    )
    labels = F.expr(
        """
        transform(tokens, (dt, di) -> case
          when di = 0 then 'root'
          when dt = 'of' then 'prep'
          when dt in ('the', 'a') then 'det'
          else 'dep' end)
        """
    )
    return sentences.withColumn("dep_parents", parents).withColumn("dep_labels", labels)


def word_char_start(tokens_col: str, word_idx_col: str) -> F.Column:
    """Char offset of word *i* under single-space tokenization.

    ``aggregate`` over the token prefix — built-in fold, no Python.
    Replaces the reference's materialized ``char_offsets`` parallel array
    (⚠ snorkel/models/context.py::Sentence, SURVEY.md §1.1).
    """
    return F.expr(
        f"aggregate(slice({tokens_col}, 1, {word_idx_col}), 0, (acc, w) -> acc + length(w) + 1)"
    )
