"""Round-4 additions: large-gazetteer NER join path ≡ inline path,
mega-key-safe bucketed as-of join ≡ window as-of join, bounded
pattern-count collect, KMV shard-merge invariant, connected-components
non-convergence guard (SURVEY.md §5 strategy: every alternate physical
plan is equality-pinned to its reference plan)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


# ---------------------------------------------------------------- NER
def _sorted_tags(df):
    return sorted(
        (r["sentence_id"], tuple(r["ner_tags"])) for r in df.collect()
    )


def test_ner_join_path_equals_inline(spark, sentences):
    from snorkel_spark.operators.parser import with_ner_tags, with_ner_tags_join
    from snorkel_spark.sources import fixtures as FX

    names = FX.person_full_names(spark)
    inline = with_ner_tags(sentences, names, method="inline")
    joined = with_ner_tags_join(sentences, names)
    a = _sorted_tags(inline.select("sentence_id", "ner_tags"))
    b = _sorted_tags(joined.select("sentence_id", "ner_tags"))
    assert a == b and len(a) > 0
    # at least one sentence actually carries a PERSON tag
    assert any("PERSON" in tags for _, tags in a)


def test_ner_auto_selects_join_above_threshold(spark, sentences):
    from snorkel_spark.operators.parser import with_ner_tags
    from snorkel_spark.sources import fixtures as FX

    names = FX.person_full_names(spark)
    # max_inline=1 forces the auto probe over the threshold → join path
    auto = with_ner_tags(sentences, names, method="auto", max_inline=1)
    inline = with_ner_tags(sentences, names, method="inline")
    assert _sorted_tags(auto.select("sentence_id", "ner_tags")) == _sorted_tags(
        inline.select("sentence_id", "ner_tags")
    )


def test_ner_join_rejects_3_token_names(spark, sentences):
    from snorkel_spark.operators.parser import with_ner_tags_join

    names = spark.createDataFrame([("a b c",)], "alias string")
    with pytest.raises(ValueError):
        with_ner_tags_join(sentences, names)


# ---------------------------------------------------------- as-of join
@pytest.fixture(scope="module")
def skewed_events(spark):
    """One mega-key (u0: 600 left / 150 right rows over 50 h — spans
    many 1 h buckets, with right-empty gaps that exercise the
    cross-bucket carry) plus normal keys, plus a key with left rows
    BEFORE any right row (inner-drop case) and same-timestamp
    collisions (at-timestamp visibility case)."""
    rows = []
    base = 1_700_000_000
    for i in range(600):  # mega key left
        rows.append(("u0", base + i * 300, float(i), "L"))
    for i in range(150):  # mega key right: every 20 min, first 50 h... then silence
        rows.append(("u0", base + i * 1200, float(1000 + i), "R"))
    for k in range(1, 4):  # normal keys
        for i in range(10):
            rows.append((f"u{k}", base + i * 7000 + k, float(i), "L"))
        for i in range(3):
            rows.append((f"u{k}", base + i * 21000 + k, float(100 + i), "R"))
    # left strictly before the only right row → must drop (inner)
    rows.append(("u9", base - 500, 7.0, "L"))
    rows.append(("u9", base + 500, 8.0, "R"))
    # same-timestamp left/right → right visible to that left row
    rows.append(("u8", base + 42, 1.0, "L"))
    rows.append(("u8", base + 42, 2.0, "R"))
    df = spark.createDataFrame(
        rows, "user_id string, epoch bigint, value double, side string"
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "value", "side"
    )
    return df.cache()


def _canon_asof(df):
    return sorted(
        (r["user_id"], r["ts"], r["value"], r["r_ts"], r["r_value"])
        for r in df.collect()
    )


def test_asof_bucketed_equals_window_on_skew(spark, skewed_events):
    from snorkel_spark.operators.temporal import asof_join, asof_join_bucketed

    left = skewed_events.filter("side = 'L'")
    right = skewed_events.filter("side = 'R'")
    plain = asof_join(left, right, key="user_id", ts_col="ts")
    for bucket_sec in (3600, 900):  # two widths: many buckets both ways
        bucketed = asof_join_bucketed(
            left, right, key="user_id", ts_col="ts", bucket_sec=bucket_sec
        )
        assert _canon_asof(bucketed) == _canon_asof(plain)
    got = _canon_asof(plain)
    # inner semantics: u9's too-early left row dropped
    assert not any(u == "u9" for u, *_ in got)
    # at-timestamp right row visible
    u8 = [r for r in got if r[0] == "u8"]
    assert len(u8) == 1 and u8[0][4] == 2.0


# ------------------------------------------------- bounded pattern agg
def test_lf_pattern_counts_bounded_collect(spark):
    import numpy as np

    from snorkel_spark.labelmodel.structure import (
        fit_pseudolikelihood,
        lf_pattern_counts,
    )

    m, n = 20, 500
    # high-diversity synthetic matrix: every candidate a distinct
    # pattern (deterministic bit spread), so P = n >> cap
    rows = []
    for cid in range(n):
        for j in range(m):
            v = ((cid >> (j % 9)) + j) % 3 - 1
            if v != 0:
                rows.append((cid, j, v))
    L = spark.createDataFrame(rows, "candidate_id long, lf_id int, label int")
    cap = 64
    with pytest.warns(UserWarning, match="pattern diversity exceeds"):
        pats, cnts = lf_pattern_counts(L, m, n_total=n, max_patterns=cap)
    # hard bound: top-cap + at most one abstain row ever reach driver
    assert len(pats) <= cap + 1
    # no mass lost: the dropped tail folds into the all-abstain row
    assert int(cnts.sum()) == n
    theta = fit_pseudolikelihood(pats, cnts, m, iters=20)
    assert np.isfinite(theta["corr"]).all()
    # exact regime: uncapped call returns the full pattern set and the
    # same arrays as a generous cap (no behavior change when P < cap)
    p1, c1 = lf_pattern_counts(L, m, n_total=n, max_patterns=10**6)
    assert len(p1) == n and int(c1.sum()) == n
    # one vote per (candidate, LF): a duplicated label row is one vote,
    # and a −1 vote is kept beside the LFs that abstain
    dup = spark.createDataFrame(
        [("a", 0, 1), ("a", 0, 1), ("a", 1, -1), ("b", 1, -1), ("b", 1, -1)],
        "candidate_id string, lf_id int, label int",
    )
    p2, c2 = lf_pattern_counts(dup, 3)
    assert p2.tolist() == [[0, -1, 0], [1, -1, 0]] and c2.tolist() == [1, 1]


# ------------------------------------------------------- KMV rollup
def test_kmv_shard_merge_equals_global(spark, docs):
    from snorkel_spark.operators.sketches import kmv_shard_merge

    row = kmv_shard_merge(docs, k=64, shingle_n=3, n_shards=8).collect()[0]
    # bottom-k mergeability: per-shard sketches re-bottom-k'd give
    # EXACTLY the global sketch
    assert row["merged_estimate"] == row["global_estimate"]
    assert row["k"] == 64 and row["n_shards"] == 8


# ------------------------------------------ CC non-convergence guard
def test_connected_components_raises_when_not_converged(spark):
    from snorkel_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(6)],
        "doc_a string, doc_b string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    # and converges fine with the default bound
    got = {r["node"]: r["component"] for r in connected_components(chain).collect()}
    assert set(got.values()) == {"n00"}


# ------------------------------------------------- C4 + packing
def test_c4_line_filters_rules(spark, docs):
    from snorkel_spark.operators.textstats import c4_line_filters
    from snorkel_spark.sources.fixtures import docs_with_planted_lines

    pages = docs_with_planted_lines(docs)
    out = c4_line_filters(pages).cache()
    rows = {r["doc_id"]: r for r in out.collect()}
    n_docs = docs.count()
    assert 0 < len(rows) < n_docs
    for did, r in rows.items():
        d = int(did)
        # lorem-ipsum pages and 2-kept-line pages never survive
        assert d % 97 != 0 and d % 11 != 0
        assert r["n_lines"] == 6 and r["n_kept"] == 3
        lines = r["clean_text"].split("\n")
        # exactly the three planted keepable sentences, in order
        assert lines[0].endswith(" one.") and lines[1].endswith(" two!")
        assert lines[2].endswith(" three?")
        for ln in lines:
            assert "javascript" not in ln and "{" not in ln
    # every non-planted-drop doc survives (word salad is long enough)
    survivors = {int(d) for d in rows}
    expect = {
        r["doc_id"] for r in docs.select(F.col("doc_id").cast("bigint").alias("doc_id")).collect()
        if r["doc_id"] % 97 != 0 and r["doc_id"] % 11 != 0
    }
    assert survivors == expect


def test_pack_sequences_shape_and_budget(spark, docs):
    from snorkel_spark.operators.textstats import pack_sequences

    out = pack_sequences(docs, max_tokens=512, n_shards=16).cache()
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 16
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: int(r["doc_id"]))
        cum = 0
        for r in rs:
            # every doc STARTS inside its assigned sequence's budget
            assert r["seq_id"] == shard * (1 << 40) + cum // 512
            assert r["offset_in_seq"] == cum % 512
            cum += r["n_tokens"]
    # sequences are well-filled: mean fill of non-final sequences ≥ the
    # budget minus one mean doc (greedy start-in-sequence packing)
    import collections

    fill = collections.Counter()
    for r in rows:
        fill[r["seq_id"]] += r["n_tokens"]
    assert max(fill.values()) >= 512
