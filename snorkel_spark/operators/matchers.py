"""Matcher algebra over mention spans (SURVEY.md §2.4, M1–M9).

Reference: matchers stream ``TemporarySpan``s through generator chains
(⚠ snorkel/matchers.py, reconstructed — SURVEY.md §0): ``DictionaryMatch``
(~L120–190), ``RegexMatchSpan`` (~L210–250), ``RegexMatchEach``
(~L250–290), NER wrappers (~L290–350), ``Union/Intersect/Inverse``
(~L90–120, ~L350–400), ``Concat`` (~L400–460),
``LambdaFunctionMatcher`` (~L460–480), and the base class'
``longest_match_only`` maximality filter (~L20–90).

Spark design: a matcher is a *declarative* transformation of the mention
DataFrame.  Predicate-style matchers compose as Catalyst ``Column``
expressions (so Union/Intersect/Inverse fold into a single filter that
whole-stage-codegens and pushes down); join-style matchers (large
dictionaries, Concat) fall back to set algebra on ``mention_id``.
No Python functions run per row anywhere except the explicitly-named
``LambdaFunctionMatcher`` escape hatch, which is Arrow-batched.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parser import rule_lemma

# ---------------------------------------------------------------------
# Porter stemmer, step 1a/1b subset (⚠ the reference passes
# DictionaryMatch(stemmer='porter') to NLTK — snorkel/matchers.py,
# reconstructed; no NLTK offline, so the high-frequency suffix rules
# are implemented as portable SQL CASE expressions that run identically
# under Spark and DuckDB: sses→ss, ies→i, ss→ss, s→ε, eed→ee, ed→ε,
# ing→ε with length guards approximating the measure>0 condition).
# Applied per token (multi-token spans stem word-by-word, like the
# 'inflectional' rule-lemma path).
# ---------------------------------------------------------------------
PORTER_STEP1A_SQL = (
    "CASE WHEN {w} LIKE '%sses' THEN substring({w}, 1, length({w}) - 2)"
    " WHEN {w} LIKE '%ies' THEN substring({w}, 1, length({w}) - 2)"
    " WHEN {w} LIKE '%ss' THEN {w}"
    " WHEN {w} LIKE '%s' AND length({w}) > 3 THEN substring({w}, 1, length({w}) - 1)"
    " ELSE {w} END"
)
PORTER_STEP1B_SQL = (
    "CASE WHEN {w} LIKE '%eed' AND length({w}) > 4 THEN substring({w}, 1, length({w}) - 1)"
    " WHEN {w} LIKE '%ed' AND length({w}) > 4 THEN substring({w}, 1, length({w}) - 2)"
    " WHEN {w} LIKE '%ing' AND length({w}) > 5 THEN substring({w}, 1, length({w}) - 3)"
    " ELSE {w} END"
)


def porter_stem_word(w: str) -> str:
    """Python twin of the SQL rules — used to stem the (small,
    driver-side) dictionary so both sides of the probe agree."""
    w = w.lower()
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s") and len(w) > 3:
        w = w[:-1]
    if w.endswith("eed") and len(w) > 4:
        w = w[:-1]
    elif w.endswith("ed") and len(w) > 4:
        w = w[:-2]
    elif w.endswith("ing") and len(w) > 5:
        w = w[:-3]
    return w


def porter_span_sql(
    col: str,
    transform_fn: str = "transform",
    split_fn: str = "split",
    join_fn: str = "array_join",
) -> str:
    """Engine-portable expression: stem every word of a span and re-join
    with spaces.  The fn params select the Spark (transform/split/
    array_join) or DuckDB (list_transform/string_split/array_to_string)
    builtins; the CASE bodies are byte-identical in both dialects."""
    s1 = PORTER_STEP1A_SQL.format(w="pw")
    s2 = PORTER_STEP1B_SQL.format(w="pv")
    return (
        f"{join_fn}({transform_fn}({transform_fn}("
        f"{split_fn}(lower({col}), ' '), pw -> {s1}), pv -> {s2}), ' ')"
    )


def maximal_only(matches: DataFrame) -> Column:
    """M1 ``longest_match_only``: drop matches strictly contained in
    another match of the same sentence (⚠ snorkel/matchers.py::Matcher
    ~L50–90).  Left-anti self-join, equi on sentence_id (sentence-local
    ⇒ the join shuffles once on a well-distributed key; per-key row
    counts are bounded by sentence length × n_max, so no skew)."""
    inner = matches.select(
        F.col("sentence_id").alias("s2"),
        F.col("word_start").alias("ws2"),
        F.col("word_end").alias("we2"),
    )
    return matches.join(
        inner,
        on=[
            matches["sentence_id"] == inner["s2"],
            inner["ws2"] <= matches["word_start"],
            matches["word_end"] <= inner["we2"],
            (inner["ws2"] < matches["word_start"]) | (matches["word_end"] < inner["we2"]),
        ],
        how="left_anti",
    )


@dataclass
class Matcher:
    """Base matcher.  Subclasses implement ``predicate`` (a Column) or
    override ``matches`` (a DataFrame transform)."""

    longest_match_only: bool = field(default=False, kw_only=True)

    def predicate(self, df: DataFrame) -> Column | None:
        return None

    def matches(self, df: DataFrame) -> DataFrame:
        pred = self.predicate(df)
        if pred is None:
            raise NotImplementedError(type(self).__name__)
        return df.filter(pred)

    def apply(self, df: DataFrame) -> DataFrame:
        out = self.matches(df)
        return maximal_only(out) if self.longest_match_only else out


def _normalize(col: Column | str, ignore_case: bool, stemmer: str | None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if stemmer == "porter":
        c = F.expr(porter_span_sql(col))
    elif stemmer == "inflectional":
        # per-token rule lemma, re-joined (multi-token spans normalize per word)
        c = F.array_join(F.transform(F.split(c, " "), rule_lemma), " ")
    elif ignore_case:
        c = F.lower(c)
    return c


@dataclass
class DictionaryMatch(Matcher):
    """M2: normalized span text ∈ dictionary (small dict → literal IN
    list, Catalyst folds it to a hash-set probe)."""

    d: frozenset | set | list = field(default_factory=set)
    ignore_case: bool = True
    stemmer: str | None = None
    attrib: str = "text"

    def predicate(self, df: DataFrame) -> Column:
        if self.stemmer == "porter":
            # stem the dict side with the Python twin of the SQL rules
            words = {" ".join(porter_stem_word(t) for t in w.split(" ")) for w in self.d}
        else:
            words = {w.lower() if self.ignore_case else w for w in self.d}
        return _normalize(self.attrib, self.ignore_case, self.stemmer).isin(sorted(words))

    def mention_lengths(self) -> list[int]:
        """Distinct token counts of the dictionary entries — the prune
        set for ``ngram_mentions(n_values=...)`` (see
        ``DictionaryJoinMatch.mention_lengths``); no Spark job."""
        return sorted({len(w.split(" ")) for w in self.d})


@dataclass
class DictionaryJoinMatch(Matcher):
    """M2 at scale: dictionary as a DataFrame → **broadcast hash
    left-semi join** (the alias-dict path north_star names)."""

    dict_df: DataFrame = None
    dict_col: str = "alias"
    attrib: str = "text"
    ignore_case: bool = True

    def matches(self, df: DataFrame) -> DataFrame:
        keys = self.dict_df.select(
            (F.lower(self.dict_col) if self.ignore_case else F.col(self.dict_col)).alias("__k")
        ).distinct()
        probe = F.lower(self.attrib) if self.ignore_case else F.col(self.attrib)
        return df.join(
            F.broadcast(keys), on=[probe == keys["__k"]], how="left_semi"
        )

    def mention_lengths(self) -> list[int]:
        """Distinct token counts of the dictionary entries — the prune
        set for ``ngram_mentions(n_values=...)``: a span whose length is
        not in this set can never equi-match, so its generation can be
        skipped entirely (dictionary-length pruning).  One tiny action
        on the broadcast side."""
        rows = (
            self.dict_df.select(
                F.size(F.split(F.col(self.dict_col), " ")).alias("_n")
            )
            .distinct()
            .collect()
        )
        return sorted(int(r["_n"]) for r in rows)


@dataclass
class RegexMatchSpan(Matcher):
    """M3: regex over the full span text."""

    rgx: str = ""
    ignore_case: bool = True
    full_match: bool = True
    attrib: str = "text"

    def predicate(self, df: DataFrame) -> Column:
        rgx = self.rgx
        if self.full_match and not rgx.endswith("$"):
            rgx = f"^(?:{rgx})$"
        if self.ignore_case:
            rgx = f"(?i){rgx}"
        return F.col(self.attrib).rlike(rgx)


@dataclass
class RegexMatchEach(Matcher):
    """M4: regex must match every token of the span."""

    rgx: str = ""
    ignore_case: bool = True
    attrib: str = "text"

    def predicate(self, df: DataFrame) -> Column:
        rgx = f"^(?:{self.rgx})$"
        if self.ignore_case:
            rgx = f"(?i){rgx}"
        # Column-API form: the pattern is passed as a literal, never
        # interpolated into a SQL string (a quote in rgx cannot break
        # the expression).
        return F.forall(F.split(F.col(self.attrib), " "), lambda mt: mt.rlike(rgx))


class NumberMatcher(RegexMatchEach):
    """M6: every token numeric."""

    def __init__(self, **kw):
        super().__init__(rgx=r"[0-9]+(\.[0-9]+)?", **kw)


class DateMatcher(RegexMatchSpan):
    """M6: ISO-ish date spans."""

    def __init__(self, **kw):
        super().__init__(rgx=r"\d{4}-\d{2}-\d{2}", **kw)


@dataclass
class Union(Matcher):
    """M7 ∪: children with predicates fold into one OR filter; otherwise
    DataFrame union deduped on mention_id."""

    children: list = field(default_factory=list)

    def matches(self, df: DataFrame) -> DataFrame:
        preds = [c.predicate(df) for c in self.children]
        if all(p is not None for p in preds):
            out = preds[0]
            for p in preds[1:]:
                out = out | p
            return df.filter(out)
        parts = [c.matches(df) for c in self.children]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.dropDuplicates(["mention_id"])


@dataclass
class Intersect(Matcher):
    """M7 ∩."""

    children: list = field(default_factory=list)

    def matches(self, df: DataFrame) -> DataFrame:
        preds = [c.predicate(df) for c in self.children]
        if all(p is not None for p in preds):
            out = preds[0]
            for p in preds[1:]:
                out = out & p
            return df.filter(out)
        cur = self.children[0].matches(df)
        for c in self.children[1:]:
            cur = cur.join(c.matches(df).select("mention_id"), "mention_id", "left_semi")
        return cur


@dataclass
class Inverse(Matcher):
    """M7 ¬ (relative to the mention space)."""

    child: Matcher = None

    def matches(self, df: DataFrame) -> DataFrame:
        pred = self.child.predicate(df)
        if pred is not None:
            return df.filter(~pred)
        return df.join(self.child.matches(df).select("mention_id"), "mention_id", "left_anti")


@dataclass
class Concat(Matcher):
    """M8: span = an m1-match immediately followed by an m2-match
    (⚠ snorkel/matchers.py::Concat ~L400–460).  Sentence-local
    adjacency self-join; emits merged spans with recomputed ids."""

    left: Matcher = None
    right: Matcher = None

    def matches(self, df: DataFrame) -> DataFrame:
        l = self.left.matches(df).select(
            "doc_id", "sentence_id", "position", "n_tokens", "tokens",
            F.col("word_start").alias("l_ws"), F.col("word_end").alias("l_we"),
            F.col("text").alias("l_text"),
        )
        r = self.right.matches(df).select(
            F.col("sentence_id").alias("r_sid"),
            F.col("word_start").alias("r_ws"), F.col("word_end").alias("r_we"),
            F.col("text").alias("r_text"),
        )
        return (
            l.join(r, on=[l["sentence_id"] == r["r_sid"], l["l_we"] + 1 == r["r_ws"]])
            .select(
                "doc_id", "sentence_id", "position", "n_tokens", "tokens",
                F.col("l_ws").alias("word_start"),
                F.col("r_we").alias("word_end"),
                (F.col("r_we") - F.col("l_ws") + 1).cast("int").alias("n"),
                F.concat_ws(" ", "l_text", "r_text").alias("text"),
            )
            .withColumn(
                "mention_id",
                F.md5(F.concat_ws("|", "sentence_id", "word_start", "word_end", "text")),
            )
        )


@dataclass
class LambdaFunctionMatcher(Matcher):
    """M9 escape hatch: arbitrary Python predicate, Arrow-batched via a
    pandas UDF over the span text series (never a row-at-a-time UDF)."""

    func: object = None  # Callable[[pd.Series], pd.Series[bool]]

    def predicate(self, df: DataFrame) -> Column:
        fn = self.func
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def _m(texts: pd.Series) -> pd.Series:
            return fn(texts)

        return _m(F.col("text"))


def person_matcher(names, **kw) -> DictionaryMatch:
    """M5 ``PersonMatcher`` equivalent: gazetteer NER against driver-side
    names (no spaCy offline — SURVEY.md §2.2 P2 note).  The
    ``lower(text) IN (…)`` filter plans as an InSet probe: no broadcast."""
    return DictionaryMatch(d=frozenset(names), **kw)


def person_matcher_ner(**kw) -> RegexMatchEach:
    """M5 with the REFERENCE's exact shape: ``PersonMatcher =
    RegexMatchEach(attrib='ner_tags', rgx='PERSON')``
    (⚠ snorkel/matchers.py ~L290–330, reconstructed) — every token of
    the span carries the PERSON tag.  Requires mentions built with
    ``ngram_mentions(carry_attribs=('ner_tags',))`` over sentences
    passed through ``parser.with_ner_tags``.  Unlike the gazetteer
    join, this matches ANY all-PERSON span (e.g. adjacent names), which
    is the reference semantics."""
    kw.setdefault("ignore_case", False)
    return RegexMatchEach(rgx="PERSON", attrib="ner_tags", **kw)
