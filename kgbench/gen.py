"""Seeded input generator: one ``documents.parquet`` per (workload, seed).

The pipeline derives everything it plants from the doc_id alone
(``sources.interleaved``: planting and pattern from ``did % 5`` and
``did % 3``, media from ``did % 3``, the entity from ``did % 137``), so
a workload's shape is chosen here by *picking doc_ids*, plus the word
salad each document carries.  Output schema: ``doc_id bigint, text
string`` — the same two columns the pipeline reads from the fixture
corpora.

Same seed → byte-identical file; a different seed → different ids and
text.  Run directly to write one file::

    python3 kgbench/gen.py --workload batch_small --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ENTITIES = 137  # mirrors sources.interleaved.N_ENTITIES

# The 31-word vocabulary of the fixture corpora (sf0.001 … sf0.1).  It
# holds no spouse or family word, so every labeling-function hit comes
# from the planted sentences and the inserted names only.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    min_words: int
    max_words: int
    ids: str            # 'uniform' | 'zipf' — how doc_ids are picked
    names_per_doc: int  # fixture-gazetteer full names inserted per doc
    n_salts: int        # run_kg_pipeline(n_salts=…)
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_small", 2_000, 10, 100, "uniform", 0, 0,
            "2k docs of ~55 words, uniform ids: an incremental batch whose wall is "
            "almost all fixed per-stage cost",
        ),
        Workload(
            "mention_dense", 1_500, 20, 40, "zipf", 12, 16,
            "1.5k docs of ~30 words plus ~12 gazetteer names, Zipf-hot entities, "
            "n_salts=16: pair-heavy candidates (~14 per doc) and salted triples",
        ),
    )
}


def _doc_ids(rng: np.random.Generator, w: Workload, hot: np.ndarray) -> np.ndarray:
    if w.ids == "uniform":
        # distinct ids over a 10× range: did % 5 < 3 plants ~60 %
        return np.sort(rng.choice(10 * w.n_docs, size=w.n_docs, replace=False)).astype(np.int64)
    # Zipf-distributed entity (did % 137) over a seeded rank order, then
    # distinct residue-class members per entity so ids never collide.
    ent = _zipf_entities(rng, hot, w.n_docs)
    span = 10 * w.n_docs // N_ENTITIES + 1
    ids = np.empty(w.n_docs, dtype=np.int64)
    for e in np.unique(ent):
        at = np.flatnonzero(ent == e)
        k = rng.choice(max(span, 2 * len(at)), size=len(at), replace=False)
        ids[at] = e + N_ENTITIES * k.astype(np.int64)
    return np.sort(ids)


def _zipf_entities(rng: np.random.Generator, hot: np.ndarray, n: int, a: float = 1.1) -> np.ndarray:
    """``n`` entity indices, Zipf(a) over the rank order ``hot``."""
    p = 1.0 / np.arange(1, N_ENTITIES + 1) ** a
    return hot[rng.choice(N_ENTITIES, size=n, p=p / p.sum())]


def _partner(i: int) -> int:
    """The planted obj entity of subj entity ``i`` (sources.fixtures)."""
    j = (7 * i + 3) % N_ENTITIES
    return (i + 1) % N_ENTITIES if j == i else j


def _names(rng: np.random.Generator, hot: np.ndarray, k: int) -> list[list[str]]:
    """Up to ``k`` distinct gazetteer names, Zipf-hot.  A name never
    repeats in a doc and no subj name meets its known-spouse obj name,
    so the inserted pairs draw no same-name or distant-supervision
    votes."""
    picks, subj, obj = [], set(), set()
    for e, is_obj in zip(_zipf_entities(rng, hot, 4 * k).tolist(),
                         (rng.random(4 * k) < 0.5).tolist()):
        if is_obj:
            if e in obj or any(s % 2 == 0 and _partner(s) == e for s in subj):
                continue
            obj.add(e)
            picks.append([f"bob{e}", f"kim{e}"])
        else:
            if e in subj or (e % 2 == 0 and _partner(e) in obj):
                continue
            subj.add(e)
            picks.append([f"anna{e}", f"lee{e}"])
        if len(picks) == k:
            break
    return picks


def documents(w: Workload, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, zlib.crc32(w.name.encode())])
    # entity rank order: even and odd entities alternate, so the hot
    # head always holds even entities — the ones the distant-supervision
    # LF knows (fixtures.known_spouses) — in the same share
    hot = np.empty(N_ENTITIES, dtype=np.int64)
    hot[0::2] = rng.permutation(np.arange(0, N_ENTITIES, 2))
    hot[1::2] = rng.permutation(np.arange(1, N_ENTITIES, 2))
    ids = _doc_ids(rng, w, hot)
    lens = rng.integers(w.min_words, w.max_words + 1, size=w.n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    pos = 0
    for did, n in zip(ids.tolist(), lens.tolist()):
        toks = list(vocab[words[pos:pos + n]])
        pos += n
        # the noise LF votes on every candidate of a doc with did % 7 < 2;
        # names inserted there would swamp the label model with noise-only
        # candidates, so those docs keep their planted sentence only
        if w.names_per_doc and did % 7 >= 2:
            names = _names(rng, hot, int(rng.poisson(w.names_per_doc)))
            at = np.sort(rng.integers(0, len(toks) + 1, size=len(names)))[::-1]
            for name, i in zip(names, at):
                toks[i:i] = name
        texts.append(" ".join(toks))
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )


def write(w: Workload, seed: int, out_dir: str) -> str:
    """Write ``out_dir/documents.parquet``; returns its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(documents(w, seed), path, compression="snappy")
    return path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(write(WORKLOADS[a.workload], a.seed, a.out))


if __name__ == "__main__":
    main()
