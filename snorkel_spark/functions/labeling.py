"""The LF applier: candidates → sparse long-form label matrix
(SURVEY.md §2.6 A1).

Reference: ``LabelAnnotator.apply`` runs every LF over every candidate
in forked worker processes and stores nonzero outputs as ``Label`` rows
(⚠ snorkel/annotations.py::LabelAnnotator ~L180–260, reconstructed —
SURVEY.md §0).  The long-form sparse matrix *is* the reference's
``(candidate, key, value)`` annotation schema
(⚠ snorkel/models/annotation.py ~L20–120); abstains are absent rows.

Spark design — exactly the shape north_star mandates: one
partition-parallel ``mapInPandas`` over the candidate table; each LF is
a **vectorized pandas closure** evaluated once per Arrow batch; outputs
are stacked and melted to long rows ``(candidate_id, lf_id, label)``
with zeros dropped.  Fault tolerance mirrors the reference's
``fault_tolerant`` flag: an LF raising on a batch abstains on that
batch, and the failure is counted per LF via Spark accumulators
(pass ``error_counters=make_lf_error_counters(spark, lfs)`` and read
them after an action) — a crashing LF is distinguishable from one
that abstains everywhere.  Accumulator caveat: task retries /
stage recomputation can double-count; treat the values as a
monitoring signal (>0 means investigate), not an exact tally.

Label convention (reference, not v0.9): binary {−1 false, +1 true},
categorical {1..k}; abstain = 0 = absent row (SURVEY.md §1.1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

LABEL_MATRIX_SCHEMA = StructType(
    [
        StructField("candidate_id", StringType()),
        StructField("lf_id", IntegerType()),
        StructField("label", IntegerType()),
    ]
)


@dataclass(frozen=True)
class LF:
    """A labeling function: a vectorized pandas closure
    ``pd.DataFrame → pd.Series[int]`` (0 = abstain), plus an optional
    ANSI-SQL CASE expression used by the DuckDB oracle and an optional
    Spark ``Column`` twin (``expr``).  When EVERY LF of a set carries an
    ``expr``, ``apply_lfs`` applies them entirely JVM-side (guide §4.1:
    built-ins over UDFs) — no Arrow boundary, no Python workers — and
    Catalyst prunes the scan to exactly the columns the exprs touch."""

    lf_id: int
    name: str
    fn: Callable[[pd.DataFrame], pd.Series]
    sql: str | None = None
    expr: object | None = field(default=None, compare=False)


def lf_registry_df(spark, lfs: list[LF]) -> DataFrame:
    """The lf_registry table (stable lf_id ↔ name map — the reference's
    ``LabelKey`` rows, SURVEY.md §1.2)."""
    return spark.createDataFrame(
        [(lf.lf_id, lf.name) for lf in lfs], "lf_id int, lf_name string"
    )


# the columns the fixture LFs consume — projecting down BEFORE the
# mapInPandas matters because Catalyst cannot prune through a Python
# map: whatever you pass is what crosses the Arrow boundary.
DEFAULT_LF_COLUMNS = ["candidate_id", "doc_id", "subj_text", "obj_text", "text_between"]


def make_lf_error_counters(spark, lfs: list[LF]) -> dict[int, object]:
    """One integer accumulator per LF, keyed by lf_id — pass to
    ``apply_lfs(error_counters=...)`` and read ``.value`` after an
    action to see per-LF batch-failure counts."""
    sc = spark.sparkContext
    return {lf.lf_id: sc.accumulator(0) for lf in lfs}


def apply_lfs(
    candidates: DataFrame,
    lfs: list[LF],
    fault_tolerant: bool = True,
    columns: list[str] | None = DEFAULT_LF_COLUMNS,
    error_counters: dict[int, object] | None = None,
) -> DataFrame:
    """candidates → long-form (candidate_id, lf_id, label≠0).

    One Arrow-batched pass; LFs never see Python rows.  ``columns``
    narrows the projection shipped through Arrow (None = all columns,
    for LFs needing extra context).  With ``fault_tolerant``, an LF
    raising on a batch abstains on that batch; pass ``error_counters``
    (from ``make_lf_error_counters``) to count failures per LF.  The
    output is the engine's label matrix; write it through the Catalog
    for the checkpoint/resume contract (north_rule).

    Fast path (guide §4.1): when every LF carries a Catalyst ``expr``
    twin and no error counters are requested, the whole matrix is one
    JVM-side projection+explode — identical rows, no Python boundary,
    and column pruning/pushdown stay intact because Catalyst can see
    through the expressions (an opaque ``mapInPandas`` ships every
    projected column).  LFs without an ``expr`` (arbitrary Python) keep
    the Arrow-batched path below.
    """
    lf_list = list(lfs)
    if (
        lf_list
        and all(lf.expr is not None for lf in lf_list)
        and len({lf.lf_id for lf in lf_list}) == len(lf_list)
        and error_counters is None
    ):
        return apply_lfs_columnar(
            candidates, {lf.lf_id: lf.expr for lf in lf_list}
        )
    if columns:
        keep = [c for c in columns if c in candidates.columns]
        candidates = candidates.select(*keep)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            outs = []
            for lf in lf_list:
                try:
                    lab = lf.fn(pdf)
                    lab = pd.Series(np.asarray(lab, dtype="int64"), index=pdf.index)
                except Exception:
                    if not fault_tolerant:
                        raise
                    if error_counters is not None and lf.lf_id in error_counters:
                        error_counters[lf.lf_id].add(1)
                    lab = pd.Series(np.zeros(n, dtype="int64"), index=pdf.index)
                nz = lab != 0
                if nz.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "candidate_id": pdf.loc[nz, "candidate_id"],
                                "lf_id": np.full(int(nz.sum()), lf.lf_id, dtype="int32"),
                                "label": lab[nz].astype("int32"),
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return candidates.mapInPandas(run, LABEL_MATRIX_SCHEMA)


def apply_lfs_columnar(candidates: DataFrame, lf_exprs: dict[int, F.Column]) -> DataFrame:
    """Alternative applier for LFs expressible as Catalyst columns:
    ``stack`` the per-LF expressions into long form entirely JVM-side.
    Used to cross-check the Arrow path and by the DuckDB oracle twin."""
    pairs = []
    for lf_id, col in lf_exprs.items():
        pairs.append(F.struct(F.lit(lf_id).alias("lf_id"), col.cast("int").alias("label")))
    return (
        candidates.select("candidate_id", F.explode(F.array(*pairs)).alias("r"))
        .select("candidate_id", "r.lf_id", "r.label")
        .filter("label != 0")
    )


# ---------------------------------------------------------------------
# Fixture LF set (FIXTURES.md §B3, adapted to the planted synthesis).
# Correlated pair by construction: lf_spouse_word_between overlaps
# lf_married_between / lf_wife_between — exercises the dependency
# handling of the label model (SURVEY.md §2.7 G4).
# ---------------------------------------------------------------------
SPOUSE_WORDS = ["married", "wife", "husband", "spouse", "wedded"]
FAMILY_WORDS = ["brother", "sister", "father", "mother", "son", "cousin"]


def _between_contains(words: list[str]) -> Callable[[pd.DataFrame], pd.Series]:
    """Vectorized token membership on the space-joined between-text —
    a single C-speed regex pass per batch, never a per-row lambda."""
    import re

    rgx = re.compile(r"(?:^| )(?:" + "|".join(map(re.escape, words)) + r")(?: |$)")

    def fn(pdf: pd.DataFrame) -> pd.Series:
        # a null text_between abstains on its row, as in the expr twin
        return pdf["text_between"].str.contains(rgx, na=False)

    return fn


def make_fixture_lfs(known_spouse_pairs: set[tuple[str, str]]) -> list[LF]:
    """The six fixture LFs.  ``known_spouse_pairs`` is the broadcast-side
    distant-supervision set of (subj_full_name, obj_full_name)."""
    btw_married = _between_contains(["married"])
    btw_wife = _between_contains(["wife"])
    btw_family = _between_contains(FAMILY_WORDS)
    btw_spouse = _between_contains(SPOUSE_WORDS)
    ds_keys = {f"{s}|{o}" for s, o in known_spouse_pairs}

    def lf_married(pdf):
        return btw_married(pdf).astype(int)

    def lf_wife(pdf):
        return btw_wife(pdf).astype(int)

    def lf_family(pdf):
        return -btw_family(pdf).astype(int)

    def lf_ds(pdf):
        return (pdf["subj_text"] + "|" + pdf["obj_text"]).isin(ds_keys).astype(int)

    def lf_same(pdf):
        return -(pdf["subj_text"] == pdf["obj_text"]).astype(int)

    def lf_spouse_word(pdf):
        return btw_spouse(pdf).astype(int)

    def lf_noise(pdf):
        did = pdf["doc_id"].astype("int64")
        return pd.Series(np.select([did % 7 == 0, did % 7 == 1], [1, -1], 0), index=pdf.index)

    fam = ", ".join(f"'{w}'" for w in FAMILY_WORDS)
    spo = ", ".join(f"'{w}'" for w in SPOUSE_WORDS)

    # Catalyst twins of the pandas closures (guide §4.1: whole-matrix
    # JVM fast path in apply_lfs).  Same word-boundary regex the pandas
    # closures run on the space-joined text_between; nulls → abstain.
    def _btw_rgx(words: list[str]) -> F.Column:
        # re.escape like the pandas twin — keeps the two paths matching
        # the same language if a word list ever gains a regex metachar
        import re

        rgx = "(?:^| )(?:" + "|".join(map(re.escape, words)) + ")(?: |$)"
        return F.coalesce(F.col("text_between").rlike(rgx), F.lit(False))

    # try_cast: a non-numeric doc_id abstains, as in the pandas twin's
    # fault-tolerant path, instead of failing the job under ANSI casts
    did = F.col("doc_id").try_cast("bigint")
    expr_married = F.when(_btw_rgx(["married"]), 1).otherwise(0)
    expr_wife = F.when(_btw_rgx(["wife"]), 1).otherwise(0)
    expr_family = F.when(_btw_rgx(FAMILY_WORDS), -1).otherwise(0)
    expr_ds = F.when(
        F.concat_ws("|", "subj_text", "obj_text").isin(sorted(ds_keys)), 1
    ).otherwise(0)
    expr_same = F.when(F.col("subj_text") == F.col("obj_text"), -1).otherwise(0)
    expr_spouse = F.when(_btw_rgx(SPOUSE_WORDS), 1).otherwise(0)
    expr_noise = F.when(did % 7 == 0, 1).when(did % 7 == 1, -1).otherwise(0)

    return [
        LF(0, "lf_married_between", lf_married, expr=expr_married,
           sql="CASE WHEN list_contains(tokens_between, 'married') THEN 1 ELSE 0 END"),
        LF(1, "lf_wife_between", lf_wife, expr=expr_wife,
           sql="CASE WHEN list_contains(tokens_between, 'wife') THEN 1 ELSE 0 END"),
        LF(2, "lf_family_word_between", lf_family, expr=expr_family,
           sql=f"CASE WHEN len(list_intersect(tokens_between, [{fam}])) > 0 THEN -1 ELSE 0 END"),
        LF(3, "lf_distant_supervision", lf_ds, expr=expr_ds,
           sql="CASE WHEN ds_hit THEN 1 ELSE 0 END"),  # oracle precomputes ds_hit via join
        LF(4, "lf_same_person", lf_same, expr=expr_same,
           sql="CASE WHEN subj_text = obj_text THEN -1 ELSE 0 END"),
        LF(5, "lf_spouse_word_between", lf_spouse_word, expr=expr_spouse,
           sql=f"CASE WHEN len(list_intersect(tokens_between, [{spo}])) > 0 THEN 1 ELSE 0 END"),
        LF(6, "lf_noise", lf_noise, expr=expr_noise,
           sql="CASE WHEN TRY_CAST(doc_id AS BIGINT) % 7 = 0 THEN 1 WHEN TRY_CAST(doc_id AS BIGINT) % 7 = 1 THEN -1 ELSE 0 END"),
    ]
