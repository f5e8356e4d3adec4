"""snorkel_spark — a from-scratch, PySpark-native KG-construction engine.

Re-implements the query/data-processing capabilities of the reference
(``fsonntag/snorkel``, classic HazyResearch Snorkel lineage — see
SURVEY.md §0 for provenance) as an idiomatic Spark 4 DataFrame pipeline:

- interleaved text+media document ingest (Iceberg-style snapshot tables)
- sentence/span projection as one built-in-expression ``select``
  (split/transform/explode — no Python)
- n-gram candidate spaces + matcher algebra (dictionary/regex/union/concat)
- labeling-function application → sparse long-form (candidate_id, lf_id,
  label) matrix
- generative label model (matrix-completion / SGD over LF accuracies,
  Snorkel-MeTaL formulation) fit from the O statistic, counted per
  distinct label pattern by two in-engine hash aggregates
- entity linking against the driver-side alias dictionary, folded into
  literal maps each row probes in place; canonicalization, salted
  two-phase aggregation, triple materialization with lineage and
  checkpoint/resume.

The default KG chain runs no Python on executors — only built-in
``pyspark.sql.functions``.  Stages outside it that need Python (LFs
without an expression twin, MinHash dedup, multimodal decoding, XML
ingest, streaming state) are Arrow-batched pandas UDFs and
``mapInPandas``/``applyInPandas``, never per-row UDFs.
"""

import logging

__version__ = "0.1.0"

# the package's one logger: best-effort paths that fail, and opt-in
# settings with a known cost, warn here instead of passing silently
log = logging.getLogger("snorkel_spark")
