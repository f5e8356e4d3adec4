"""Deterministic fixture tables derived from the synthesis arithmetic
(FIXTURES.md §B2–B4).  No external data, no RNG: everything is a pure
function of the entity index, so every table is reproducible in DuckDB
SQL for the driver's oracle.

Planted-relation recap (see sources/interleaved.py): doc ``did`` plants
subj entity ``E{N}`` (mention "anna{N} lee{N}") and obj entity ``F{M}``
(mention "bob{M} kim{M}") with ``N = did % 137``,
``M = (7N+3) % 137`` (``N+1`` when that collides, only N=68), iff
``did % 5 < 3``; pattern ``did % 3`` ∈ {married, wife-of, brother-of}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .interleaved import N_ENTITIES

# M of N: the planted obj entity index as a function of the subj index.
_EJ = f"cast(if((7*id+3) % {N_ENTITIES} = id, (id+1) % {N_ENTITIES}, (7*id+3) % {N_ENTITIES}) as int)"


def _partner(i: int) -> int:
    """Python twin of ``_EJ``."""
    j = (7 * i + 3) % N_ENTITIES
    return (i + 1) % N_ENTITIES if j == i else j


def _aliases_of(i: int) -> tuple:
    subj, nxt, obj = f"anna{i} lee{i}", (i + 1) % N_ENTITIES, f"bob{i} kim{i}"
    return (
        (subj, f"E{i}", subj, 0.9),
        (f"lee{i}", f"E{i}", subj, 0.6),
        (f"anna{i}", f"E{i}", subj, 0.7),
        (f"anna{i}", f"E{nxt}", f"anna{nxt} lee{nxt}", 0.3),
        (obj, f"F{i}", obj, 0.9),
        (f"kim{i}", f"F{i}", obj, 0.6),
    )


# B2, as driver-side rows ``(alias, entity_id, canonical_name, prior)``.
# Per subj entity E{i}: full name (prior .9), surname (.6), ambiguous
# first name shared with E{(i+1)%137} (.7/.3 — exercises prior
# tie-breaking).  Per obj entity F{i}: full name (.9), surname (.6).
# 822 rows of arithmetic: the linker folds them into literal maps
# (SURVEY.md §2.11 N1), the person matcher into an IN-set.
ALIASES: tuple[tuple[str, str, str, float], ...] = tuple(
    row for i in range(N_ENTITIES) for row in _aliases_of(i)
)
# The full-name aliases only — the gazetteer the person matcher uses
# (bigram mentions).
PERSON_FULL_NAMES: tuple[str, ...] = tuple(a for a, *_ in ALIASES if " " in a)


def alias_dict(spark: SparkSession) -> DataFrame:
    """``ALIASES`` as a DataFrame, for ``DictionaryJoinMatch``, the one
    operator that takes the dictionary as a table (ROADMAP item 4)."""
    return spark.createDataFrame(
        ALIASES, "alias string, entity_id string, canonical_name string, prior double"
    )


def person_full_names(spark: SparkSession) -> DataFrame:
    """``PERSON_FULL_NAMES`` as a one-column ``alias`` DataFrame, for
    ``DictionaryJoinMatch`` (ROADMAP item 4)."""
    return spark.createDataFrame([(a,) for a in PERSON_FULL_NAMES], "alias string")


def known_spouse_names() -> set[tuple[str, str]]:
    """B3 lf_distant_supervision support set: the (subj, obj) full-name
    pairs of (E{a}, F{b}) with b = planted partner of a, for even a —
    the distant-supervision set ``make_fixture_lfs`` takes."""
    return {
        (f"anna{i} lee{i}", f"bob{_partner(i)} kim{_partner(i)}")
        for i in range(0, N_ENTITIES, 2)
    }


def _planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.col("doc_id").cast("bigint").alias("did"))
        .filter("did % 5 < 3")
        .withColumn("pat", (F.col("did") % 3).cast("int"))
        .withColumn("ei", (F.col("did") % N_ENTITIES).cast("int"))
        .withColumn("ej", F.expr(_EJ.replace("id", "ei")))
        .withColumn("n_spans", F.expr(
            "cast(2 + did % 4 as int) + if(did % 3 = 0, cast(1 + did % 2 as int), 0) + 1"
        ))
    )


def gold_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 gold at candidate grain: candidate_id (same deterministic hash
    the extractor computes), gold label ∈ {−1, +1}, plus the entity pair.

    The planted sentence is the last span (offset = n_spans − 1); subj at
    words 0..1, obj at words 3..4 (pat 0) or 4..5 (pat 1/2).
    """
    return (
        _planted_docs(spark, sf_dir)
        .withColumn("sentence_id", F.expr("concat(did, ':', n_spans - 1)"))
        .withColumn("subj_ws", F.lit(0))
        .withColumn("subj_we", F.lit(1))
        .withColumn("obj_ws", F.expr("if(pat = 0, 3, 4)"))
        .withColumn("obj_we", F.expr("if(pat = 0, 4, 5)"))
        .select(
            F.md5(
                F.concat_ws(
                    "|", F.lit("spouse_of"), F.col("sentence_id"),
                    "subj_ws", "subj_we", "obj_ws", "obj_we",
                )
            ).alias("candidate_id"),
            F.col("did").cast("string").alias("doc_id"),
            F.expr("if(pat in (0, 1), 1, -1)").cast("int").alias("label"),
            F.expr("concat('E', ei)").alias("subj_entity"),
            F.expr("concat('F', ej)").alias("obj_entity"),
        )
    )


def gold_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold_candidates(spark, sf_dir).select("candidate_id", "label")


def gold_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: closed-world planted spouse triples."""
    return (
        gold_candidates(spark, sf_dir)
        .filter("label = 1")
        .select(
            F.col("subj_entity").alias("subj"),
            F.lit("spouse_of").alias("pred"),
            F.col("obj_entity").alias("obj"),
        )
        .distinct()
    )


def embeddings_with_planted_dups(
    embeddings: DataFrame, every: int = 10, id_offset: int = 1000000
) -> DataFrame:
    """Deterministic near-duplicate augmentation for the similarity
    operators' driver queries: every ``every``-th vector is copied with
    component 0 replaced by 0.0f (pure replacement — no float
    arithmetic, so the DuckDB oracle reproduces it bit-exactly).  The
    copy's cosine to its source is sqrt(1 − e0²/‖e‖²) ≈ 0.99 for
    typical components — a planted near-dup of a *different* vector."""
    plant = embeddings.filter(F.col("vec_id") % every == 0).select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> if(i = 0, cast(0.0 as float), x))"
        ).alias("embedding"),
        "label",
    )
    return embeddings.select("vec_id", "embedding", "label").unionByName(plant)


def docs_with_planted_pii(docs: DataFrame, every: int = 7) -> DataFrame:
    """Deterministic PII augmentation for the redaction driver query:
    every ``every``-th doc gets a doc_id-keyed email, an SSN-shaped and
    a phone-shaped number appended (the raw corpus contains none, so
    without planting the redaction query would be vacuous).  Pure
    string concat — the DuckDB twin reproduces it exactly."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id").cast("bigint") % every == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("bigint").cast("string"),
                F.lit("@ex.org id 123-45-6789 tel 555-123-4567"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )


def docs_with_planted_lines(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line page construction for the C4-cleaning
    driver query (the raw corpus is single-line word salad — every C4
    rule would fire vacuously).  Each doc becomes 6 lines exercising
    one rule each: a kept sentence, a too-short line, a policy-word
    line, a second kept sentence, a code line, and (doc_id % 11) either
    a no-terminal-punctuation line (doc then has only 2 kept lines →
    page-dropped by min_lines) or a third kept sentence; doc_id % 97
    plants 'lorem ipsum' (page-dropped outright).  Pure slice/concat —
    the DuckDB twin reproduces every byte."""
    toks = F.split("text", " ")
    j = lambda a, b: F.concat(F.array_join(F.slice(toks, a, b), " "))
    # suffixes are 5 words each, so a keepable line clears the
    # min-words rule even when its slice is empty (10-token docs exist)
    line6 = F.when(
        F.col("doc_id").cast("bigint") % 11 == 0,
        F.lit("this line has no terminal punctuation at all"),
    ).otherwise(F.concat(j(13, 6), F.lit(" this is planted sentence three?")))
    lorem = F.when(
        F.col("doc_id").cast("bigint") % 97 == 0, F.lit(" lorem ipsum")
    ).otherwise(F.lit(""))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.concat(j(1, 6), F.lit(" this is planted sentence one.")),
            F.concat(F.lit("too short."), lorem),
            F.lit("please enable javascript and cookie settings."),
            F.concat(j(7, 6), F.lit(" this is planted sentence two!")),
            F.lit("function f() { return 1; }"),
            line6,
        ).alias("text"),
    )


# 25-token fixed paragraph for the span-dedup driver fixture: docs with
# doc_id % 7 == 0 get it prepended, so every 12-token window lying fully
# inside the prefix is an exact cross-document duplicate.
PLANTED_SPAN_PREFIX = (
    "the quick brown fox jumps over the lazy dog while the curious cat "
    "watches from the old wooden fence near the quiet river bank today"
)


def docs_with_planted_spans(docs: DataFrame) -> DataFrame:
    """Deterministic cross-document duplicated-span construction for
    the span-dedup driver query (the raw corpus is per-doc word salad —
    long exact spans never repeat across docs).  Docs with
    ``doc_id % 7 == 0`` get the fixed 25-token ``PLANTED_SPAN_PREFIX``
    prepended; all other docs pass through unchanged.  Pure
    when/concat — the DuckDB twin reproduces every byte."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id").cast("bigint") % 7 == 0,
            F.concat(F.lit(PLANTED_SPAN_PREFIX + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def docs_with_planted_quality(docs: DataFrame) -> DataFrame:
    """Deterministic quality-defect planting for the Gopher-rules
    driver query (the raw corpus is symbol-free single-line prose with
    no function-word tokens — five of the seven MassiveText rules would
    be constant).  Four independent residue classes plant one defect
    family each, so rule combinations vary across docs:

    * ``doc_id % 7``  — a stop-word-rich clause (stopword rule passes)
    * ``doc_id % 5``  — '###' symbols + an ellipsis (symbol-ratio rule
      fails for shorter docs, passes for longer ones)
    * ``doc_id % 11`` — nine bullet lines (bullet-fraction rule fails
      unless %13 also fires and dilutes the fraction)
    * ``doc_id % 13`` — two ellipsis-terminated lines (ellipsis-line
      rule fails)
    * ``doc_id % 17`` — one 4000-char nonsense "word" (mean-word-length
      rule fails for every sf0.01-sized doc: 4000 ≫ 10·n_words)

    Pure when/concat — the DuckDB twin reproduces every byte."""
    did = F.col("doc_id").cast("bigint")
    t = F.col("text")
    t = F.when(did % 7 == 0, F.concat(t, F.lit(" the cat and the dog have to be there"))).otherwise(t)
    t = F.when(did % 5 == 0, F.concat(t, F.lit(" ### ### ... extra"))).otherwise(t)
    t = F.when(did % 11 == 0, F.concat(t, F.lit("\n- bullet point line" * 9))).otherwise(t)
    t = F.when(did % 13 == 0, F.concat(t, F.lit("\nthis trails off...\nand this one too..."))).otherwise(t)
    t = F.when(did % 17 == 0, F.concat(t, F.lit(" " + "z" * 4000))).otherwise(t)
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), t.alias("text"))


REPEATED_LINE = "this exact line repeats inside the page."


def docs_with_repeated_lines(docs: DataFrame) -> DataFrame:
    """Deterministic intra-document repeated-line construction for the
    line-dedup driver query (the raw corpus is single-line word salad —
    a page never repeats a line).  Each doc becomes 5 lines with the
    fixed ``REPEATED_LINE`` at positions 2 and 4 (and also 5 when
    ``doc_id % 5 == 0``), so ``dedup_lines`` must drop exactly 1 (or 2)
    lines per page.  Pure slice/concat — the DuckDB twin reproduces
    every byte."""
    toks = F.split("text", " ")
    j = lambda a, b: F.array_join(F.slice(toks, a, b), " ")
    dup = F.lit(REPEATED_LINE)
    line5 = F.when(F.col("doc_id").cast("bigint") % 5 == 0, dup).otherwise(
        F.concat(j(13, 6), F.lit(" planted line three."))
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.concat(j(1, 6), F.lit(" planted line one.")),
            dup,
            F.concat(j(7, 6), F.lit(" planted line two.")),
            dup,
            line5,
        ).alias("text"),
    )
