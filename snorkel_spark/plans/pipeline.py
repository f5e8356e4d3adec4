"""The end-to-end KG-construction pipeline with checkpoint/resume.

north_rule: "checkpoints the label matrix and triple stages to Iceberg
snapshots with per-partition lineage + metrics, resumable mid-run".

Design:
- every stage runs through ``run_stage``: skip iff a committed
  snapshot's manifest entry carries the same (stage,
  input_snapshot_ids, config_hash) lineage key (idempotent resume —
  deterministic content-hash ids make re-runs produce identical bytes);
- per-partition metrics come from the written snapshot's **parquet
  footers** (Catalog.file_metrics) — metadata-only reads, so each stage
  output is scanned exactly once (by its own write); rows land in the
  catalog's ``_metrics.jsonl``;
- each lineage row also carries the stage's compile counters
  (``jvm_counters``): Janino classes, JIT milliseconds and loaded
  classes of the driver JVM — in local mode the JVM that runs the tasks;
- the reference's ``UDFRunner.clear()`` rerun-replace semantics
  (⚠ snorkel/udf.py ~L1–200, SURVEY.md §2.9 U1) map to "new snapshot
  wins".
"""

from __future__ import annotations

import functools
import hashlib
import json
import marshal
import os
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import Catalog


def config_hash(cfg: dict) -> str:
    return hashlib.md5(json.dumps(cfg, sort_keys=True, default=str).encode()).hexdigest()[:12]


@functools.cache
def source_fingerprint() -> str:
    """md5 of the sorted relative paths and bytes of the package's
    ``*.py`` files, computed once per process.  Folded into every
    stage's config hash, so a code change never resumes a snapshot the
    old code wrote.  The whole package, not each builder: a builder's
    behaviour lives in operators across it."""
    root = Path(__file__).resolve().parents[1]
    if not root.is_dir():  # imported from a zip (--py-files): hash the archive
        return hashlib.md5(root.parent.read_bytes()).hexdigest()[:12]
    h = hashlib.md5()
    for p in sorted(root.rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:12]


def _input_listing(path: str) -> list[list]:
    """``[relative name, size, mtime_ns]`` of every file under ``path``
    (a file or a directory), sorted — keys a stage on its input files,
    so a rewritten input never resumes a stale snapshot."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [[os.path.basename(path), st.st_size, st.st_mtime_ns]]
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.append([os.path.relpath(os.path.join(d, f), path), st.st_size, st.st_mtime_ns])
    return sorted(out)


def _lf_body_key(fn) -> str:
    """A Column by its expression; a callable by its qualified name and
    bytecode md5 (``str`` of a function holds a per-process address)."""
    if isinstance(fn, Column):
        return str(fn)
    code = hashlib.md5(marshal.dumps(fn.__code__)).hexdigest()[:12]
    return f"{fn.__module__}.{fn.__qualname__}:{code}"


@functools.cache
def _jvm_meters(jvm) -> tuple:
    """``jvm_counters``' three JVM handles, resolved once per driver JVM:
    each package prefix of a py4j path such as
    ``jvm.java.lang.management`` is a failed class lookup that scans the
    whole classpath (1–2 ms a path)."""
    mx = jvm.java.lang.management.ManagementFactory
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME(),
        mx.getCompilationMXBean(),
        mx.getClassLoadingMXBean(),
    )


def jvm_counters(spark: SparkSession) -> dict[str, int]:
    """The driver JVM's cumulative compile and class-loading counts:
    Janino classes compiled by Spark's codegen, milliseconds the JIT
    compiler threads spent (summed over threads), classes loaded."""
    codegen, jit, loading = _jvm_meters(spark.sparkContext._jvm)
    return {
        "codegen_classes": codegen.getCount(),
        "jit_ms": jit.getTotalCompilationTime(),
        "classes_loaded": loading.getTotalLoadedClassCount(),
    }


@dataclass
class PipelineContext:
    spark: SparkSession
    catalog: Catalog
    config: dict = field(default_factory=dict)

    def _lineage_key(self, stage: str, inputs: dict[str, int]) -> dict:
        return {
            "stage": stage,
            "inputs": {k: int(v) for k, v in sorted(inputs.items())},
            "config_hash": config_hash(
                {"config": self.config.get(stage, {}), "source": source_fingerprint()}
            ),
        }

    def find_completed(self, stage: str, inputs: dict[str, int]) -> int | None:
        """The newest snapshot whose manifest entry (committed in the
        same atomic swap as its data) carries this lineage key."""
        key = self._lineage_key(stage, inputs)
        for s in reversed(self.catalog.snapshots(stage)):
            if s.get("meta") == key:
                return s["snapshot_id"]
        return None

    def run_stage(
        self,
        stage: str,
        inputs: dict[str, int],
        build: "callable[[], DataFrame]",
        partition_by: list[str] | None = None,
    ) -> tuple[DataFrame, int, bool]:
        """Returns (df, snapshot_id, was_skipped)."""
        snap = self.find_completed(stage, inputs)
        if snap is not None:
            return self.catalog.read(self.spark, stage, snap), snap, True
        c0 = jvm_counters(self.spark)
        t0 = time.time()
        df = build()
        snap = self.catalog.write(df, stage, partition_by=partition_by,
                                  meta=self._lineage_key(stage, inputs))
        out = self.catalog.read(self.spark, stage, snap)
        wall_ms = int((time.time() - t0) * 1000)
        c1 = jvm_counters(self.spark)
        # per-partition rows from parquet footers (metadata-only) — the
        # stage output is scanned exactly once: by its write.
        self.catalog.log_metrics(
            [
                {"stage": stage, "snapshot_id": snap, "wall_ms": wall_ms, **fm}
                for fm in self.catalog.file_metrics(stage, snap)
            ]
        )
        self.catalog.log_lineage(
            {
                **self._lineage_key(stage, inputs),
                "snapshot_id": snap,
                "wall_ms": wall_ms,
                **{k: c1[k] - c0[k] for k in c1},
                "committed_at": time.time(),
            }
        )
        return out, snap, False


# Stage builders: each link of the chain, composed once.  Every caller
# materializes the result its own way (run_stage, a parquet snapshot, a
# cache).  Operators are imported in the function body, so they are
# looked up on their modules at call time and a patched attribute is
# picked up.
def build_candidates(sentences: DataFrame, n_max: int = 2) -> DataFrame:
    """sentences → n-gram mentions → person matcher → spouse candidates."""
    from ..operators.candidates import extract_candidates
    from ..operators.matchers import person_matcher
    from ..operators.ngrams import ngram_mentions
    from ..sources import fixtures as FX

    pm = person_matcher(FX.PERSON_FULL_NAMES)
    # dictionary-length pruning: the matcher is the only consumer of
    # the mention space, so skip generating window lengths it provably
    # rejects (results identical, explode halved)
    n_vals = [n for n in pm.mention_lengths() if 1 <= n <= n_max] or None
    mentions = ngram_mentions(sentences, n_max=n_max, n_values=n_vals)
    return extract_candidates(pm.apply(mentions))


def build_triples(
    cands: DataFrame,
    marg: DataFrame,
    threshold: float = 0.5,
    n_salts: int = 0,
) -> DataFrame:
    """candidates + marginals → entity link → canonical triples."""
    from ..operators.canonicalize import canonical_triples
    from ..operators.linker import link_text_map
    from ..sources import fixtures as FX

    # each slot links inside the row's own expression against the
    # driver-side gazetteer, after the threshold join: no link table
    def slot(col: str):
        return link_text_map(F.col(col), FX.ALIASES)["entity_id"]

    return canonical_triples(
        cands, marg, slot("subj_text"), slot("obj_text"), threshold=threshold, n_salts=n_salts
    )


def run_kg_pipeline(
    spark: SparkSession,
    sf_dir: str,
    catalog: Catalog,
    n_max: int = 2,
    threshold: float = 0.5,
    n_salts: int = 0,
    stop_after: str | None = None,
    parser: str = "whitespace",
) -> dict:
    """parse → candidates → label matrix → label model → link → triples.

    Returns a dict of stage snapshot ids + the triples DataFrame +
    timing facts; resumable: rerunning with the same catalog skips
    committed stages.

    ``parser``: 'whitespace' (split-on-space — exact for the clean
    synthesized corpus) or 'full' (``parse_sentences_full``: real
    sentence splitting at [.!?] + punctuation-aware tokenization — the
    path a punctuated corpus needs).  Part of the sentences stage's
    config hash, so snapshots from the two parsers never alias.
    """
    from ..functions.labeling import apply_lfs, make_fixture_lfs
    from ..labelmodel.encoding import compute_O_arrow
    from ..labelmodel.model import LabelModel
    from ..operators.parser import parse_sentences, parse_sentences_full
    from ..sources import fixtures as FX
    from ..sources.interleaved import synthesize_raw_documents

    if parser not in ("whitespace", "full"):
        raise ValueError(f"parser must be 'whitespace' or 'full', got {parser!r}")
    parse_fn = parse_sentences if parser == "whitespace" else parse_sentences_full

    ctx = PipelineContext(spark, catalog, config={
        "sentences": {
            "sf_dir": sf_dir,
            "parser": parser,
            "documents": _input_listing(f"{sf_dir}/documents.parquet"),
        },
        "candidates": {"n_max": n_max},
        "triples": {"threshold": threshold, "n_salts": n_salts},
    })
    info: dict = {"skipped": []}

    def stage(name, inputs, build, **kw):
        df, snap, skipped = ctx.run_stage(name, inputs, build, **kw)
        if skipped:
            info["skipped"].append(name)
        return df, snap

    raw = synthesize_raw_documents(spark, sf_dir)
    sents, s1 = stage("sentences", {}, lambda: parse_fn(raw))
    if stop_after == "sentences":
        return info

    cands, s2 = stage("candidates", {"sentences": s1},
                      lambda: build_candidates(sents, n_max=n_max))
    if stop_after == "candidates":
        return info

    lfs = make_fixture_lfs(FX.known_spouse_names())
    # keyed on the LFs actually applied, so a changed LF set never
    # resumes from a label matrix an older set produced
    ctx.config["label_matrix"] = {
        "lfs": [(lf.lf_id, lf.name, _lf_body_key(lf.fn)) for lf in lfs]
    }
    L, s3 = stage("label_matrix", {"candidates": s2}, lambda: apply_lfs(cands, lfs))
    if stop_after == "label_matrix":
        return info

    def build_marginals():
        C, n = compute_O_arrow(L, m=len(lfs))
        lm = LabelModel(m=len(lfs)).fit(C, n)
        info["learned_lf_stats"] = lm.learned_lf_stats()
        return lm.marginals(spark, L)

    marg, s4 = stage("marginals", {"label_matrix": s3}, build_marginals)

    triples, s5 = stage(
        "triples", {"marginals": s4, "candidates": s2},
        lambda: build_triples(cands, marg, threshold=threshold, n_salts=n_salts)
        .withColumn("snapshot_id", F.lit(-1)),
        partition_by=["pred"],
    )
    info.update(
        {"sentences": s1, "candidates": s2, "label_matrix": s3, "marginals": s4, "triples": s5,
         "triples_df": triples}
    )
    return info
