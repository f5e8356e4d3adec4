"""Per-pass correctness checks, run outside the timed region.

A pass is correct when
- the committed ``sentences``, ``candidates`` and ``label_matrix``
  snapshots hold exactly as many rows as the DuckDB oracle CTEs
  (``snorkel_spark.oracle``) produce over the same generated parquet;
- the O count matrix the pipeline fitted on equals
  ``labelmodel.encoding.compute_O_local`` on the collected label matrix;
- ``operators.canonicalize.triple_prf`` against
  ``sources.fixtures.gold_triples`` gives P and R both ≥ 0.95.

``marginal_f1`` (``labelmodel.model.score_marginals`` against
``fixtures.gold_labels``) is reported but has no threshold.

The pipeline is deterministic (content-hash ids), so the Spark-side
scores run on the cold pass only: every warm pass must commit the same
rows as the cold pass in all five stage tables (``same_outputs``), which
also gives it the cold pass's P, R and F1.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

COUNTED = ("sentences", "candidates", "label_matrix")
STAGES = COUNTED + ("marginals", "triples")
MIN_PR = 0.95


def oracle_counts(in_dir: str) -> dict[str, int]:
    """Row counts of the oracle's sentences/candidates/label_matrix CTEs."""
    import duckdb

    from snorkel_spark.oracle import PREFIX_LABELS

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        path = os.path.join(in_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        sql = PREFIX_LABELS + "\nSELECT " + ", ".join(
            f"(SELECT count(*) FROM {t})" for t in COUNTED
        )
        return dict(zip(COUNTED, map(int, con.execute(sql).fetchone())))
    finally:
        con.close()


def snapshot_dir(catalog, table: str, snap: int) -> str:
    return os.path.join(catalog.root, table, f"snapshot={snap}")


def snapshot_rows(catalog, table: str, snap: int) -> int:
    return ds.dataset(snapshot_dir(catalog, table, snap), format="parquet").count_rows()


def snapshot_table(catalog, table: str, snap: int):
    """The committed snapshot, rows sorted by every scalar column."""
    t = ds.dataset(snapshot_dir(catalog, table, snap), format="parquet",
                   partitioning="hive").to_table()
    keys = [(f.name, "ascending") for f in t.schema if not pa.types.is_nested(f.type)]
    return t.sort_by(keys)


def same_outputs(catalog, info: dict, ref_catalog, ref_info: dict) -> list[str]:
    """Stages whose committed rows differ from the reference pass."""
    return [f"{t}: rows differ from the cold pass" for t in STAGES
            if not snapshot_table(catalog, t, info[t]).equals(
                snapshot_table(ref_catalog, t, ref_info[t]))]


def o_matches_local(catalog, snap: int, C: np.ndarray, n: int) -> bool:
    """Recompute O from the committed label matrix with the NumPy twin."""
    from snorkel_spark.labelmodel.encoding import compute_O_local

    t = ds.dataset(snapshot_dir(catalog, "label_matrix", snap), format="parquet").to_table(
        columns=["candidate_id", "lf_id", "label"]
    )
    cid = t.column("candidate_id").to_numpy(zero_copy_only=False)
    _, row = np.unique(cid, return_inverse=True)
    m = C.shape[0] // 2
    dense = np.zeros((int(row.max()) + 1 if len(row) else 0, m), dtype=np.int64)
    dense[row, t.column("lf_id").to_numpy()] = t.column("label").to_numpy()
    C_local, n_local = compute_O_local(dense)
    return n_local == n and np.array_equal(C_local, C)


def gold(spark, in_dir: str):
    """(gold_triples, gold_labels) of the generated input, cached: every
    pass of a run is scored against the same gold."""
    from snorkel_spark.sources import fixtures as FX

    return FX.gold_triples(spark, in_dir).cache(), FX.gold_labels(spark, in_dir).cache()


def check_scores(spark, catalog, info: dict, gold_triples, gold_labels) -> tuple[list[str], dict]:
    """Spark-side checks of one committed pass: (failures, scores)."""
    from snorkel_spark.labelmodel.model import score_marginals
    from snorkel_spark.operators.canonicalize import triple_prf

    failures = []
    prf = triple_prf(info["triples_df"], gold_triples)
    if prf["precision"] < MIN_PR or prf["recall"] < MIN_PR:
        failures.append(f"triples: P={prf['precision']:.4f} R={prf['recall']:.4f} < {MIN_PR}")
    sm = score_marginals(catalog.read(spark, "marginals", info["marginals"]), gold_labels)
    return failures, {"triple_f1": prf["f1"], "marginal_f1": sm["f1"]}


def check_exact(catalog, info: dict, expected: dict[str, int],
                o_result: tuple[np.ndarray, int] | None) -> list[str]:
    """Oracle row counts and the O matrix of one committed pass."""
    failures = []
    for t in COUNTED:
        got = snapshot_rows(catalog, t, info[t])
        if got != expected[t]:
            failures.append(f"{t}: {got} rows, oracle {expected[t]}")
    if o_result is None:
        failures.append("O: compute_O_arrow was not called")
    elif not o_matches_local(catalog, info["label_matrix"], *o_result):
        failures.append("O: count matrix differs from compute_O_local")
    return failures
