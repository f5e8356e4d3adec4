"""Generator determinism: ``python3 -m pytest kgbench/test_generator.py``."""

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SPOUSE_OR_FAMILY = {"married", "wife", "husband", "spouse", "wedded",
                    "brother", "sister", "father", "mother", "son", "cousin"}


def _bytes(w, seed, d):
    with open(gen.write(gen.WORKLOADS[w], seed, str(d)), "rb") as f:
        return f.read()


@pytest.mark.parametrize("w", sorted(gen.WORKLOADS))
def test_same_seed_same_bytes(w, tmp_path):
    assert _bytes(w, 7, tmp_path / "a") == _bytes(w, 7, tmp_path / "b")


@pytest.mark.parametrize("w", sorted(gen.WORKLOADS))
def test_other_seed_other_bytes(w, tmp_path):
    assert _bytes(w, 7, tmp_path / "a") != _bytes(w, 8, tmp_path / "b")


@pytest.mark.parametrize("w", sorted(gen.WORKLOADS))
def test_shape(w, tmp_path):
    spec = gen.WORKLOADS[w]
    t = pq.read_table(gen.write(spec, 3, str(tmp_path)))
    assert t.schema.names == ["doc_id", "text"]
    assert str(t.schema.field("doc_id").type) == "int64"
    ids = t.column("doc_id").to_pylist()
    assert len(ids) == len(set(ids)) == spec.n_docs
    words = {tok for s in t.column("text").to_pylist() for tok in s.split(" ")}
    assert not words & SPOUSE_OR_FAMILY
    plain = {tok for tok in words if not tok.startswith(("anna", "lee", "bob", "kim"))}
    assert plain <= set(gen.VOCAB)
    assert bool(spec.names_per_doc) == (words != plain)
