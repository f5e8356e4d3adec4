"""The LF applier: candidates → sparse long-form label matrix
(SURVEY.md §2.6 A1).

Reference: ``LabelAnnotator.apply`` runs every LF over every candidate
in forked worker processes and stores nonzero outputs as ``Label`` rows
(⚠ snorkel/annotations.py::LabelAnnotator ~L180–260, reconstructed —
SURVEY.md §0).  The long-form sparse matrix *is* the reference's
``(candidate, key, value)`` annotation schema
(⚠ snorkel/models/annotation.py ~L20–120); abstains are absent rows.

Spark design: an LF has one body, and its type picks the path.  A
Catalyst ``Column`` body is an engine expression: every Column LF of a
set is evaluated in one JVM projection + explode, never crossing into
Python, and Catalyst prunes the scan to the columns the expressions
touch (guide §4.1: built-ins over UDFs).  A pandas body
``pd.DataFrame → pd.Series`` runs in one partition-parallel
``mapInPandas`` over Arrow batches.  Fault tolerance mirrors the
reference's ``fault_tolerant`` flag for pandas LFs: one raising on a
batch abstains on that batch, and the failure is counted per LF via
Spark accumulators (pass ``error_counters=make_lf_error_counters(spark,
lfs)`` and read them after an action) — a crashing LF is
distinguishable from one that abstains everywhere.  Accumulator
caveat: task retries / stage recomputation can double-count; treat the
values as a monitoring signal (>0 means investigate), not an exact
tally.

Label convention (reference, not v0.9): binary {−1 false, +1 true},
categorical {1..k}; abstain = 0 = absent row (SURVEY.md §1.1).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

LABEL_MATRIX_SCHEMA = StructType(
    [
        StructField("candidate_id", StringType()),
        StructField("lf_id", IntegerType()),
        StructField("label", IntegerType()),
    ]
)


@dataclass(frozen=True, eq=False)
class LF:
    """A labeling function with one body ``fn`` (0 = abstain): either a
    Catalyst ``Column`` over the candidate table or a vectorized pandas
    callable ``pd.DataFrame → pd.Series[int]``.  ``apply_lfs`` keeps
    Column LFs in the engine and runs only pandas LFs through Arrow."""

    lf_id: int
    name: str
    fn: Column | Callable[[pd.DataFrame], pd.Series]


def lf_registry_df(spark, lfs: list[LF]) -> DataFrame:
    """The lf_registry table (stable lf_id ↔ name map — the reference's
    ``LabelKey`` rows, SURVEY.md §1.2)."""
    return spark.createDataFrame(
        [(lf.lf_id, lf.name) for lf in lfs], "lf_id int, lf_name string"
    )


# the columns shipped to pandas LFs by default — projecting down BEFORE
# the mapInPandas matters because Catalyst cannot prune through a
# Python map: whatever you pass is what crosses the Arrow boundary.
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

    The body type picks the path.  Column LFs are one JVM-side
    projection + explode (``apply_lfs_columnar``); pandas LFs are one
    Arrow-batched ``mapInPandas`` pass whose closure holds only the
    pandas LFs, so no Column is ever pickled.  A mixed set unions the
    two.  The output is the engine's label matrix; write it through the
    Catalog for the checkpoint/resume contract (north_rule).

    ``columns`` narrows the projection shipped through Arrow (None = all
    columns, for LFs needing extra context); Catalyst prunes the Column
    path itself.  ``fault_tolerant`` and ``error_counters`` (from
    ``make_lf_error_counters``) cover pandas LFs only: with
    ``fault_tolerant``, a pandas LF raising on a batch abstains on that
    batch and is counted.  A Column LF is an engine expression: it
    abstains through ``try_cast``/``coalesce`` in its own body, and a
    runtime expression error fails the job loudly.  A duplicate
    ``lf_id`` raises ``ValueError``.
    """
    ids = [lf.lf_id for lf in lfs]
    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate lf_id in {ids}")
    col_lfs = [lf for lf in lfs if isinstance(lf.fn, Column)]
    py_lfs = [lf for lf in lfs if not isinstance(lf.fn, Column)]
    parts = []
    if col_lfs:
        parts.append(apply_lfs_columnar(candidates, {lf.lf_id: lf.fn for lf in col_lfs}))
    if py_lfs:
        parts.append(_apply_pandas_lfs(candidates, py_lfs, fault_tolerant, columns, error_counters))
    if not parts:
        return candidates.sparkSession.createDataFrame([], LABEL_MATRIX_SCHEMA)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def _apply_pandas_lfs(
    candidates: DataFrame,
    lfs: list[LF],
    fault_tolerant: bool,
    columns: list[str] | None,
    error_counters: dict[int, object] | None,
) -> DataFrame:
    """Pandas LFs → long-form rows in one ``mapInPandas`` pass; LFs
    never see Python rows, only Arrow batches."""
    if columns:
        keep = [c for c in columns if c in candidates.columns]
        candidates = candidates.select(*keep)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            outs = []
            for lf in lfs:
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


def apply_lfs_columnar(candidates: DataFrame, lf_exprs: dict[int, Column]) -> DataFrame:
    """The Column-LF applier: ``explode`` an array of per-LF
    ``(lf_id, label)`` structs into long form entirely JVM-side."""
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


def make_fixture_lfs(known_spouse_pairs: set[tuple[str, str]]) -> list[LF]:
    """The seven fixture LFs, each one Catalyst Column (the DuckDB
    ``LABEL_MATRIX`` CTE in ``oracle.py`` is their oracle).
    ``known_spouse_pairs`` is the distant-supervision set of
    (subj_full_name, obj_full_name), inlined as an InSet literal."""
    ds_keys = sorted(f"{s}|{o}" for s, o in known_spouse_pairs)

    # word-boundary match on the space-joined text_between; a null
    # text_between abstains on its row
    def btw(words: list[str]) -> Column:
        rgx = "(?:^| )(?:" + "|".join(map(re.escape, words)) + ")(?: |$)"
        return F.coalesce(F.col("text_between").rlike(rgx), F.lit(False))

    # try_cast: a non-numeric doc_id abstains instead of failing the job
    # under ANSI casts
    did = F.col("doc_id").try_cast("bigint")
    return [
        LF(0, "lf_married_between", F.when(btw(["married"]), 1).otherwise(0)),
        LF(1, "lf_wife_between", F.when(btw(["wife"]), 1).otherwise(0)),
        LF(2, "lf_family_word_between", F.when(btw(FAMILY_WORDS), -1).otherwise(0)),
        LF(3, "lf_distant_supervision",
           F.when(F.concat_ws("|", "subj_text", "obj_text").isin(ds_keys), 1).otherwise(0)),
        LF(4, "lf_same_person", F.when(F.col("subj_text") == F.col("obj_text"), -1).otherwise(0)),
        LF(5, "lf_spouse_word_between", F.when(btw(SPOUSE_WORDS), 1).otherwise(0)),
        LF(6, "lf_noise", F.when(did % 7 == 0, 1).when(did % 7 == 1, -1).otherwise(0)),
    ]
