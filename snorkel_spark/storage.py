"""Table-format layer: Iceberg-style snapshot tables over Parquet.

The north_rule mandates Iceberg graph tables with per-partition
lineage + metrics and checkpoint/resume.  No Iceberg runtime jar is
available offline (SURVEY.md §0.3), so this module implements the
needed subset of snapshot semantics — atomic snapshot commit, manifest,
snapshot-id addressed reads, lineage log — over Parquet directories,
behind an interface that swaps to real Iceberg
(``spark.sql.catalog.*=org.apache.iceberg.spark.SparkCatalog`` +
``df.writeTo(tbl).append()``) when the jar is present.

Layout:
    {root}/{table}/snapshot={id}/*.parquet      data files
    {root}/{table}/_manifest.json               snapshot list + metadata
    {root}/_lineage.jsonl                       stage lineage log
    {root}/_metrics.jsonl                       per-partition stage metrics

Commit protocol: data is written to a temp dir, then ``os.rename``d to
its final ``snapshot={id}`` path, then the manifest is replaced via
write-temp + rename — the same atomic-pointer-swap idea as Iceberg's
metadata.json. Readers only ever see a fully committed snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable — how Spark
    reads back any parquet it wrote."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _read_schema(schema: StructType, partition_by: list[str]) -> StructType:
    """The schema a snapshot reads back with: data fields, then the
    partition fields, all nullable."""
    fields = [f for f in schema.fields if f.name not in partition_by]
    fields += [schema[c] for c in partition_by]
    return _nullable(StructType(fields))


def _atomic_write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


@dataclass
class Catalog:
    """A warehouse root holding snapshot tables + lineage/metrics logs."""

    root: str

    def __post_init__(self):
        os.makedirs(self.root, exist_ok=True)

    # ---- manifest -------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"table": table, "snapshots": []}

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)["snapshots"]

    def current_snapshot(self, table: str) -> int | None:
        snaps = self.snapshots(table)
        return snaps[-1]["snapshot_id"] if snaps else None

    # ---- write ----------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> int:
        """Commit ``df`` as a new snapshot of ``table``; returns snapshot_id.

        The snapshot is added alongside prior ones (readers of the
        *table* see only the latest — snapshots are full replacements,
        matching how the reference's ``clear=True`` reruns behave:
        ⚠ snorkel/udf.py::UDFRunner.clear, SURVEY.md §2.9 U1).
        """
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        manifest = self._load_manifest(table)
        snap_id = (manifest["snapshots"][-1]["snapshot_id"] + 1) if manifest["snapshots"] else 1
        tmp = os.path.join(tdir, f"_tmp_snapshot_{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        final = os.path.join(tdir, f"snapshot={snap_id}")
        if os.path.exists(final):  # crashed previous attempt
            shutil.rmtree(final)
        os.rename(tmp, final)
        manifest["snapshots"].append(
            {
                "snapshot_id": snap_id,
                "committed_at": time.time(),
                "partition_by": partition_by or [],
                "schema": _read_schema(df.schema, partition_by or []).jsonValue(),
                "meta": meta or {},
            }
        )
        _atomic_write_json(self._manifest_path(table), manifest)
        return snap_id

    # ---- read -----------------------------------------------------
    def read(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot(table)
        if snapshot_id is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot under {self.root}")
        reader = spark.read
        # the recorded schema spares the read its footer-inference job;
        # entries committed before schemas were recorded still infer
        schema = next((s.get("schema") for s in self.snapshots(table)
                       if s["snapshot_id"] == snapshot_id), None)
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(os.path.join(self.root, table, f"snapshot={snapshot_id}"))

    def exists(self, table: str, snapshot_id: int | None = None) -> bool:
        snaps = self.snapshots(table)
        if not snaps:
            return False
        if snapshot_id is None:
            return True
        return any(s["snapshot_id"] == snapshot_id for s in snaps)

    def file_metrics(self, table: str, snapshot_id: int) -> list[dict]:
        """Per-file row counts read from parquet FOOTERS — a metadata-only
        read (a few KB per file), never a data scan.  One data file per
        write task ⇒ file grain IS the per-partition grain the
        north_rule's lineage+metrics contract asks for.  Replaces the
        old post-write ``groupBy(spark_partition_id()).count()`` which
        re-read the whole snapshot (at 100 TB: doubled I/O per stage)."""
        import pyarrow.parquet as pq

        base = os.path.join(self.root, table, f"snapshot={snapshot_id}")
        out = []
        pid = 0
        for dirpath, _dirs, files in sorted(os.walk(base)):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, fn)
                md = pq.ParquetFile(p).metadata
                out.append(
                    {
                        "partition_id": pid,
                        "file": os.path.relpath(p, base),
                        "output_rows": md.num_rows,
                        "n_row_groups": md.num_row_groups,
                        "bytes": os.path.getsize(p),
                    }
                )
                pid += 1
        return out

    # ---- lineage / metrics ----------------------------------------
    def _append_jsonl(self, name: str, row: dict) -> None:
        with open(os.path.join(self.root, name), "a") as f:
            f.write(json.dumps(row, sort_keys=True) + "\n")

    def log_lineage(self, row: dict) -> None:
        self._append_jsonl("_lineage.jsonl", row)

    def log_metrics(self, rows: list[dict]) -> None:
        for r in rows:
            self._append_jsonl("_metrics.jsonl", r)

    def lineage(self) -> list[dict]:
        p = os.path.join(self.root, "_lineage.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def metrics(self) -> list[dict]:
        p = os.path.join(self.root, "_metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
