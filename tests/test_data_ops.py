"""Dedup / similarity / textstats / multimodal operators."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF, plan_nodes


# Each cached frame is unpersisted on teardown: a cached relation stays
# in the session's cache manager, so every later read of the same
# parquet (tests/test_plans.py's too) would plan over an
# InMemoryTableScan instead of a FileScan.
@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_exact_dup_groups(spark, docs):
    from snorkel_spark.operators.dedup import exact_dup_groups

    g = exact_dup_groups(docs)
    assert g.count() == docs.select("text").distinct().count()
    # inject a duplicate → group of 2
    dup = docs.limit(1).withColumn("doc_id", F.lit(99999))
    g2 = exact_dup_groups(docs.unionByName(dup))
    assert g2.filter("n_docs = 2").count() == 1


def test_minhash_lsh_superset_check(spark, docs):
    """LSH candidates verified ≥ τ must be a subset of brute-force pairs
    ≥ τ (soundness); for an injected exact dup, LSH must find it
    (banding guarantees equal signatures collide)."""
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    dup = docs.limit(1).withColumn("doc_id", F.lit(99999))
    pairs = ngram_jaccard_pairs(docs.unionByName(dup), threshold=0.99, shingle_n=1)
    assert pairs.filter("jaccard >= 0.999999").count() >= 1


def test_simhash_identical_docs_equal_sig(spark, docs):
    from snorkel_spark.operators.dedup import simhash_signatures

    dup = docs.limit(1).withColumn("doc_id", F.lit(99999))
    sigs = simhash_signatures(docs.unionByName(dup))
    top = sigs.groupBy("simhash").count().agg(F.max("count")).collect()[0][0]
    assert top >= 2


def test_cosine_topk_self_excluded_and_sorted(spark, emb):
    from snorkel_spark.operators.similarity import cosine_topk

    t = cosine_topk(emb, [0, 1], k=5)
    rows = t.collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, rs in by_q.items():
        rs.sort()
        assert len(rs) == 5
        assert all(rs[i][1] >= rs[i + 1][1] for i in range(len(rs) - 1))


def test_lsh_bucket_recall(spark, emb):
    """An identical vector pair must land in the same bucket in every
    AND-OR table."""
    from snorkel_spark.operators.similarity import N_TABLES, lsh_buckets

    dup = emb.limit(1).withColumn("vec_id", F.lit(99999))
    b = lsh_buckets(emb.unionByName(dup))
    assert b.count() == (emb.count() + 1) * N_TABLES
    first = {r["table_id"]: r["bucket"] for r in b.filter("vec_id = 0").collect()}
    dupb = {r["table_id"]: r["bucket"] for r in b.filter("vec_id = 99999").collect()}
    assert first == dupb and len(first) == N_TABLES


def test_lsh_dim_agnostic(spark, emb):
    """Planes derive from size(embedding): any dim yields a full valid
    bucketing (no silent null-padding as with hard-wired dim 64)."""
    from snorkel_spark.operators.similarity import lsh_buckets

    for dim in (16, 48):
        e = emb.select("vec_id", F.expr(f"slice(embedding, 1, {dim})").alias("embedding"))
        b = lsh_buckets(e)
        assert b.filter("bucket is null").count() == 0
        # a real spread of buckets, not one degenerate value
        assert b.select("table_id", "bucket").distinct().count() > 10


def test_lsh_neighbor_pairs_finds_planted(spark, emb):
    """Planted perturbed copies (different vectors, cos ≈ 0.99) are
    recovered through the amplified bucket join — no label blocking."""
    from snorkel_spark.operators.similarity import lsh_neighbor_pairs
    from snorkel_spark.sources.fixtures import embeddings_with_planted_dups

    aug = embeddings_with_planted_dups(emb, every=10)
    n_planted = emb.filter("vec_id % 10 = 0").count()
    found = lsh_neighbor_pairs(aug, threshold=0.95)
    hits = found.filter("id_b = id_a + 1000000").count()
    # sign-LSH recall at cos≈0.99 with 8 planes × 2 tables ≥ ~90%
    assert hits >= int(0.7 * n_planted)
    # and nothing from the raw corpus (max true cos ≈ 0.51)
    assert found.filter("id_b < 1000000").count() == 0


def test_ngram_jaccard_finds_length_differing_near_dups(spark, docs):
    """The MinHash-band blocking finds near-dups whose token counts
    DIFFER (the failure mode of any exact-length blocking): plant a
    copy of a doc with its first token dropped."""
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    plant = docs.filter("doc_id % 50 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 2, size(split(text, ' ')) - 1), ' ')").alias("text"),
        "lang", "source", "n_chars",
    )
    n_planted = plant.count()
    pairs = ngram_jaccard_pairs(docs.unionByName(plant), threshold=0.5)
    hits = pairs.filter(
        F.abs(F.col("doc_b").cast("long") - F.col("doc_a").cast("long")) == 100000
    ).count()  # pair order is by doc_id STRING, so the planted id can land on either side
    assert hits == n_planted  # shingle J ≈ (L−3)/(L−2) ≥ 0.5 always here


def test_ngram_jaccard_backend_equivalence(spark, docs):
    """The gate-query band params (32 hashes / 16 bands) reproduce the
    128 / 32 verified pair set — exact verification makes the result
    insensitive to the band params here."""
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    plant = docs.filter("doc_id % 50 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 2, size(split(text, ' ')) - 1), ' ')").alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(plant)

    def pairset(**kw):
        return {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(corpus, threshold=0.5, **kw).collect()
        }

    assert pairset(n_hashes=32, n_bands=16) == pairset()


def _duckdb_documents(rows):
    """A DuckDB connection whose ``documents`` table holds ``rows``."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


SIG_DOCS = [(1, "a b c d e"), (2, "the cat sat on the mat"), (3, "x"), (4, ""),
            (5, "a b c d e f g h i j k l"), (6, "été café naïve")]


@pytest.mark.parametrize("shingle_n", [1, 3])
def test_minhash_signature_twins(spark, shingle_n):
    """``minhash_signatures`` equals the family computed with hashlib and
    NumPy — x = the shingle's first 8 md5 hex digits, sig[i] =
    min (a_i·x + b_i) mod p — and the DuckDB ``sigs`` CTE equals both."""
    import hashlib

    import numpy as np

    from __spark_entry__ import _minhash_cte_sql
    from snorkel_spark.operators.dedup import (
        MINHASH_PRIME, minhash_coefficients, minhash_signatures,
    )

    n = 16
    a, b = minhash_coefficients(n)

    def ref(text):
        toks = text.split(" ")
        shingles = {" ".join(toks[i:i + shingle_n])
                    for i in range(max(len(toks) - shingle_n, 0) + 1)}
        x = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles])
        return ((a[:, None] * x + b[:, None]) % MINHASH_PRIME).min(axis=1).tolist()

    want = {str(d): ref(t) for d, t in SIG_DOCS}
    docs = spark.createDataFrame(SIG_DOCS, "doc_id bigint, text string")
    got = {r["doc_id"]: list(r["sig"])
           for r in minhash_signatures(docs, n, shingle_n).collect()}
    assert got == want
    sql = "WITH " + _minhash_cte_sql(n, 8, shingle_n, 64) + " SELECT doc_id, sig FROM sigs"
    assert dict(_duckdb_documents(SIG_DOCS).execute(sql).fetchall()) == want


@pytest.mark.parametrize("shingle_n", [1, 3])
def test_null_text_never_pairs(spark, shingle_n):
    """A null text has no shingle set, no signature and no band key: two
    null texts do not pair (and the kernel never sees a null set), as
    in the DuckDB twin."""
    from __spark_entry__ import _minhash_pairs_sql
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, None), (4, None), (5, "")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {tuple(r) for r in ngram_jaccard_pairs(
        docs, shingle_n=shingle_n, n_hashes=16, n_bands=8).collect()}
    want = set(_duckdb_documents(rows).execute(
        _minhash_pairs_sql(16, 8, 0.5, shingle_n, 64)).fetchall())
    assert got == want == {("1", "2", 1.0)}


def test_lsh_bucket_cap_bounds_candidates(spark, docs):
    """max_bucket is enforced: with a tiny cap, no surviving band bucket
    is wider than the cap (bounding the w² pair blowup), and the audit
    stats expose the full width distribution."""
    from snorkel_spark.operators.dedup import (
        _band_keys,
        lsh_bucket_stats,
        minhash_signatures,
    )

    stats = lsh_bucket_stats(docs, shingle_n=1)
    widths = {r["width"]: r["n_buckets"] for r in stats.collect()}
    assert max(widths) > 4  # the corpus does have wide unigram buckets
    # mirror the capped candidate path and assert the bound holds
    bands = _band_keys(minhash_signatures(docs, 128, 1), 128, 32)
    ok = bands.groupBy("band_key").count().filter("count <= 4")
    surviving = bands.join(ok.select("band_key"), "band_key")
    max_w = (
        surviving.groupBy("band_key").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_w <= 4


def test_textstats(spark, docs):
    from snorkel_spark.operators.textstats import fingerprints, quality_scores, token_stats

    ts = token_stats(docs)
    bad = ts.filter("n_ws_tokens <= 0 or n_bpe_tokens < n_ws_tokens")
    assert bad.count() == 0
    q = quality_scores(docs)
    assert q.filter("quality < 0 or quality > 1").count() == 0
    fp = fingerprints(docs)
    # deterministic: identical text → identical fingerprint
    assert fp.count() == docs.count()
    assert fp.select("fingerprint").distinct().count() > 400


def test_multimodal_plumbing(spark, raw):
    from snorkel_spark.operators.multimodal import (
        extract_features, fetch_payloads, media_spans,
    )

    m = media_spans(raw)
    n_media = m.count()
    assert n_media > 0
    feats = extract_features(fetch_payloads(m))
    rows = feats.collect()
    assert len(rows) == n_media
    assert all(0 <= r["feature"] < 997 and r["n_bytes"] > 0 for r in rows)


def test_frame_sample_and_resize(spark, raw):
    """Frame fan-out count = ceil(n_bytes/stride); resize truncates
    payloads and preserves row count (schema contract intact)."""
    from snorkel_spark.operators.multimodal import (
        fetch_payloads,
        frame_sample,
        media_spans,
        resize_stub,
    )

    m = fetch_payloads(media_spans(raw)).cache()
    fr = frame_sample(m, stride=4, frame_bytes=8)
    one = m.limit(1).collect()[0]
    got = fr.filter(
        (F.col("doc_id") == one["doc_id"]) & (F.col("media_ref") == one["media_ref"])
    ).count()
    assert got == (one["n_bytes"] + 3) // 4
    rz = resize_stub(m, max_bytes=5)
    assert rz.filter("n_bytes > 5").count() == 0
    assert rz.count() == m.count()


def test_auto_n_planes_keeps_bucket_width_constant(spark, emb):
    """The automated growth rule: expected bucket width n / 2^p stays
    within [target/2, 2·target] across 10×/100×/1000× corpus growth
    (until the plane clamp), so the pair join never drifts quadratic."""
    from snorkel_spark.operators.similarity import auto_n_planes, lsh_buckets

    target = 64
    widths = {}
    for n in (1_000, 10_000, 100_000, 1_000_000, 10_000_000):
        p = auto_n_planes(n, target_bucket=target)
        widths[n] = n / 2**p
        if p < 24:  # below the clamp the invariant must hold
            assert target / 2 <= widths[n] <= 2 * target, (n, p, widths[n])
    assert auto_n_planes(0) == 4 and auto_n_planes(10) == 4  # clamps
    # and the computed plane count actually drives a valid bucketing
    p = auto_n_planes(emb.count(), target_bucket=64)
    b = lsh_buckets(emb, n_planes=p)
    assert b.groupBy("table_id").count().count() == 2  # both tables present


def test_connected_components_chain_and_clique(spark):
    """A 4-node chain (diameter 3 — needs >1 propagation round), a
    triangle, and an isolated pair each collapse to min-id components."""
    from snorkel_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),        # chain a-b-c-d
         ("x", "y"), ("y", "z"), ("x", "z"),        # triangle
         ("p", "q")],                               # pair
        "doc_a string, doc_b string",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x", "z": "x",
                   "p": "p", "q": "p"}


def test_duplicate_clusters_merges_exact_and_near(spark, docs):
    """An exact copy AND a near-dup (one token changed) of the same doc
    land in ONE cluster keyed by the original doc_id — the transitive
    step that pairwise output alone cannot give."""
    from snorkel_spark.operators.dedup import duplicate_clusters

    base = docs.orderBy("doc_id").limit(1).collect()[0]
    near_text = base["text"].replace(base["text"].split(" ")[2], "zzz", 1)
    extra = spark.createDataFrame(
        [(str(90000), base["text"]), (str(90001), near_text)],
        "doc_id string, text string",
    )
    aug = docs.select(F.col("doc_id").cast("string"), "text").unionByName(extra)
    cl = duplicate_clusters(aug, threshold=0.5, n_hashes=32, n_bands=16)
    want = str(base["doc_id"])
    got = {r["doc_id"]: r["cluster_id"] for r in cl.collect()}
    assert got.get("90000") == min(want, "90000")
    assert got.get("90001") == min(want, "90000", "90001")
    assert got.get(want) == min(want, "90000")


def test_ivf_topk_recall_vs_exact(spark, emb):
    """IVF with n_probe=n_centroids degenerates to exact brute force
    (identical to cosine_topk); at n_probe=4/16 recall@3 stays ≥ 0.5 on
    the raw corpus (approximate by design, but not junk)."""
    from snorkel_spark.operators.similarity import cosine_topk, ivf_topk

    qids = [0, 1, 2, 3, 4]
    exact = cosine_topk(emb, qids, k=3)
    full = ivf_topk(emb, qids, k=3, n_centroids=8, n_probe=8)
    e = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert e == f
    approx = ivf_topk(emb, qids, k=3, n_centroids=16, n_probe=4)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e2 = {(q, n) for q, n, _ in e}
    assert len(a & e2) / len(e2) >= 0.5


def test_ivf_kmeans_centroids_compose(spark, emb):
    """k-means-refined centroids plug into the same assign/topk chain
    (shape contract; no bit-exact oracle by design — float reduction
    order is engine-specific)."""
    from snorkel_spark.operators.similarity import ivf_assign, ivf_kmeans_centroids

    cents = ivf_kmeans_centroids(emb, n_centroids=4, max_iter=3)
    assert cents.count() == 4
    assign = ivf_assign(emb, cents)
    assert assign.count() == emb.count()
    assert assign.select("centroid_id").distinct().count() <= 4


def test_top_terms_rank_and_ties(spark):
    from snorkel_spark.operators.textstats import top_terms

    docs = spark.createDataFrame(
        [(1, "b a c"), (2, "a b"), (3, "a z z"), (4, "q")],
        "doc_id long, text string",
    )
    got = [(r["rank"], r["term"], r["doc_freq"]) for r in
           top_terms(docs, k=3).orderBy("rank").collect()]
    # df: a=3, b=2, c=1, z=1(distinct per doc), q=1 → ties at 1 break
    # alphabetically; within-doc repeats count once
    assert got == [(1, "a", 3), (2, "b", 2), (3, "c", 1)]


def test_redact_pii_planted(spark, docs):
    """Planted PII is counted and fully scrubbed; untouched docs pass
    through byte-identical; the SSN-shaped id is not half-eaten by the
    phone pattern."""
    from snorkel_spark.operators.textstats import redact_pii
    from snorkel_spark.sources.fixtures import docs_with_planted_pii

    aug = docs_with_planted_pii(docs)
    red = redact_pii(aug).cache()
    planted = red.filter(F.expr("cast(doc_id as bigint) % 7 = 0"))
    n_planted = planted.count()
    assert n_planted > 0
    assert planted.filter("n_email = 1 and n_phone = 1 and n_ssn = 1").count() == n_planted
    assert planted.filter(
        "redacted_text like '%[EMAIL]%' and redacted_text like '%[PHONE]%'"
        " and redacted_text like '%[SSN]%'"
    ).count() == n_planted
    leak = red.filter(
        "redacted_text rlike '[0-9]{3}-[0-9]{2}-[0-9]{4}'"
        " or redacted_text rlike '@[A-Za-z0-9.-]+[.][A-Za-z]'"
    )
    assert leak.count() == 0
    clean = red.filter(F.expr("cast(doc_id as bigint) % 7 != 0"))
    joined = clean.join(docs.selectExpr("cast(doc_id as string) doc_id", "text"), "doc_id")
    assert joined.filter("redacted_text != text").count() == 0


def test_decontaminate_planted_overlap(spark):
    """A corpus doc sharing a 3-gram window with the eval doc is
    flagged with the exact distinct-shingle hit count; disjoint docs
    are not flagged; min_hits filters."""
    from snorkel_spark.operators.textstats import decontaminate

    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma y"),       # shares 1 shingle: 'alpha beta gamma'
         (2, "alpha beta gamma delta tail"),  # shares 2
         (3, "no overlap here at all")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_hits"] for r in decontaminate(corpus, ev, 3).collect()}
    assert got == {"1": 1, "2": 2}
    got2 = {r["doc_id"] for r in decontaminate(corpus, ev, 3, min_hits=2).collect()}
    assert got2 == {"2"}


def test_assign_splits_deterministic_and_proportional(spark, docs):
    from snorkel_spark.operators.textstats import assign_splits

    s1 = assign_splits(docs)
    s2 = assign_splits(docs)
    assert s1.exceptAll(s2).count() == 0  # content-stable across runs
    frac = {r["split"]: r["count"] for r in s1.groupBy("split").count().collect()}
    n = sum(frac.values())
    assert n == docs.count()
    # uniform hash → rough 80/10/10 (wide tolerance at 500 docs)
    assert 0.6 < frac.get("train", 0) / n < 0.95
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0
    # buckets in range, split consistent with bucket
    bad = s1.filter(
        "bucket < 0 or bucket > 99"
        " or (bucket < 80 and split != 'train')"
        " or (bucket >= 80 and bucket < 90 and split != 'val')"
        " or (bucket >= 90 and split != 'test')"
    )
    assert bad.count() == 0


def test_repetition_stats_planted(spark):
    from snorkel_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam ham spam ham spam ham"),   # 'spam ham' 2-gram ×3
         (2, "a b c d e f"),                  # all n-grams unique
         (3, "x")],                           # too short for any n-gram
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got["1"]["top2_cnt"] == 3 and got["1"]["top2_frac"] == 1.0
    assert got["1"]["top3_cnt"] == 2  # 'spam ham spam' ×2 (overlapping)
    assert got["2"]["top2_cnt"] == 1 and got["2"]["top2_frac"] == round(2 / 6, 6)
    assert got["3"]["top2_cnt"] == 0 and got["3"]["top2_frac"] == 0.0


def test_ivf_partitioned_write_prunes(spark, emb, tmp_path):
    """The documented IVF scale claim, demonstrated: corpus written
    partitioned by centroid_id → a probe filter becomes PARTITION
    pruning at the scan (visible in the physical plan), and the pruned
    read returns exactly the probed lists."""
    from snorkel_spark.operators.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(emb, 8)
    idx = ivf_assign(emb, cents)
    path = str(tmp_path / "ivf_corpus")
    emb.join(idx, "vec_id").write.partitionBy("centroid_id").parquet(path)
    # probe two REAL inverted lists (centroid ids are stride-sampled
    # vec_ids, not 0..k-1)
    cids = sorted(r[0] for r in idx.select("centroid_id").distinct().collect())
    probe = cids[:2]
    probed = spark.read.parquet(path).filter(F.col("centroid_id").isin(probe))
    (scan,) = [node for n, node in plan_nodes(probed) if n == "FileSourceScanExec"]
    assert "centroid_id" in scan.metadata().get("PartitionFilters").get()
    want = idx.filter(F.col("centroid_id").isin(probe)).count()
    assert probed.count() == want and want > 0
    # pruning is physical, not a post-filter: execute the probe and
    # read the scan node's ACTUAL numFiles metric — strictly fewer
    # than the partitioned corpus's file count on disk
    import glob

    total_files = len(glob.glob(f"{path}/centroid_id=*/*.parquet"))
    probed.collect()
    mets, n_files = scan.metrics().iterator(), None
    while mets.hasNext():
        kv = mets.next()
        if kv._1() == "numFiles":
            n_files = kv._2().value()
    assert n_files is not None and 0 < n_files < total_files


def test_kmv_sketch_estimate_and_degenerate(spark, docs):
    """KMV bottom-k sketch: on a large distinct space (3-shingles) the
    estimate lands within the ~3/√k theoretical band of the exact
    count; when distinct < k the sketch degenerates to the exact set.
    The plan uses TakeOrdered (per-partition bottom-k + tiny merge),
    never a global sort."""
    from snorkel_spark.operators.sketches import kmv_distinct_tokens

    row = kmv_distinct_tokens(docs, k=64, shingle_n=3).collect()[0]
    exact = row["exact_distinct"]
    assert exact > 64
    assert abs(row["kmv_estimate"] - exact) / exact < 3 / (64 ** 0.5)
    # degenerate: tiny vocabulary (< k distinct tokens) → exact
    row2 = kmv_distinct_tokens(docs, k=64, shingle_n=1).collect()[0]
    assert row2["kmv_estimate"] == float(row2["exact_distinct"])
    # bottom-k plans as top-k, not a global sort
    assert "TakeOrderedAndProjectExec" in [
        n for n, _ in plan_nodes(kmv_distinct_tokens(docs, k=64, shingle_n=3))]


def test_kmv_jaccard_identity_and_band(spark, docs):
    """KMV Jaccard: a corpus against itself is exactly 1.0 through the
    sketch (every union hash is in both sides); disjoint halves give
    estimate and exact both near 0 within the k-sample band."""
    from snorkel_spark.operators.sketches import kmv_jaccard

    a = docs.filter("doc_id % 2 = 0")
    same = kmv_jaccard(a, a, k=64).collect()[0]
    assert same["kmv_jaccard"] == 1.0 and same["exact_jaccard"] == 1.0
    b = docs.filter("doc_id % 2 = 1")
    row = kmv_jaccard(a, b, k=256).collect()[0]
    assert 0.0 <= row["exact_jaccard"] <= 1.0
    # binomial band for the bottom-k sample of the union
    j = row["exact_jaccard"]
    band = 3 * ((j * (1 - j) / 256) ** 0.5) + 1 / 256
    assert abs(row["kmv_jaccard"] - j) <= band, row


def test_lsh_capped_groupby_pairs_equal_join_pairs(spark, docs):
    """r06 optimization contract: the capped bucket-local pair
    explosion (groupBy + sorted-member explode) produces exactly the
    pair set of the DuckDB twin's band self-join when the cap is larger
    than every bucket."""
    import duckdb

    from __spark_entry__ import _minhash_pairs_sql
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    capped = ngram_jaccard_pairs(
        docs, threshold=0.0, n_hashes=16, n_bands=8, max_bucket=10**9
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = {(a, b): j for a, b, j in
            con.execute(_minhash_pairs_sql(16, 8, 0.0, 3, 10**9)).fetchall()}
    con.close()
    assert got.keys() == want.keys() and len(got) > 0
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in got)


def test_repetition_stats_equals_bruteforce(spark):
    """r06 optimization contract: the sorted-run max-frequency kernel
    must reproduce the brute-force n-gram counts."""
    from collections import Counter

    from snorkel_spark.operators.textstats import repetition_stats

    texts = [
        "a b a b a b c",          # top2 'a b'×3, top3 'a b a'×2
        "x",                       # shorter than any gram
        "w w w w",                # top2 'w w'×3, top3 'w w w'×2
        "p q r p q r p q",        # mixed runs
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}

    def brute(t, n):
        toks = t.split(" ")
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return max(Counter(grams).values()) if grams else 0

    for i, t in enumerate(texts):
        assert got[str(i)]["top2_cnt"] == brute(t, 2), (i, t)
        assert got[str(i)]["top3_cnt"] == brute(t, 3), (i, t)


def test_lsh_duplicate_doc_id_rows_no_self_pairs(spark, docs):
    """Duplicate doc_id rows must not produce doc_a == doc_b pairs
    (the strict a < b contract of the join shape)."""
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    doubled = docs.limit(20).unionByName(docs.limit(20))
    pairs = ngram_jaccard_pairs(doubled, threshold=0.0, n_hashes=16, n_bands=8)
    assert pairs.filter("doc_a >= doc_b").count() == 0


# ------------------------------------------------- span dedup (Lee'22)
def test_span_dedup_planted_cross_doc(spark, docs):
    from snorkel_spark.operators.dedup import span_dedup_flags
    from snorkel_spark.sources.fixtures import docs_with_planted_spans

    flagged = span_dedup_flags(
        docs_with_planted_spans(docs), span_tokens=12, stride=6
    ).toPandas().set_index("doc_id")
    planted = [d for d in flagged.index if int(d) % 7 == 0]
    clean = [d for d in flagged.index if int(d) % 7 != 0]
    assert planted and clean
    # the 25-token shared prefix fully contains the strided 12-token
    # windows at offsets 1, 7 and 13 → ≥ 3 cross-doc duplicated
    # windows per planted doc
    for d in planted:
        assert flagged.loc[d, "n_dup_spans"] >= 3, d
    # unplanted docs can still share spans (the corpus re-plants the
    # same relation sentence for entity index N = doc_id % 137), but
    # most of each doc is per-doc salad: the bulk must be flag-free
    n_hit = sum(1 for d in clean if flagged.loc[d, "n_dup_spans"] > 0)
    assert n_hit < len(clean) // 4


def test_span_dedup_short_doc_and_same_doc(spark):
    from snorkel_spark.operators.dedup import span_dedup_flags

    df = spark.createDataFrame(
        [
            ("1", "too short to window"),  # < k tokens → no rows
            ("2", "a b c d e f a b c d e f"),  # same span twice IN one doc
            ("3", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        ],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dedup_flags(df, span_tokens=6, stride=6).collect()
    }
    assert "1" not in got  # 4 tokens < 6 → no full window
    assert got["2"] == (2, 2)  # windows at 1 and 7 are identical
    assert got["3"] == (1, 0)


# -------------------------------------------- pack_sequences auto-shard
def test_auto_n_shards_growth_rule():
    from snorkel_spark.operators.textstats import auto_n_shards

    t = 100_000_000
    assert auto_n_shards(0, target_tokens_per_shard=t) == 16
    assert auto_n_shards(10 * t, target_tokens_per_shard=t) == 16  # min clamp
    assert auto_n_shards(5_000 * t, target_tokens_per_shard=t) == 5_000
    # monotone growth: 100× corpus → 100× shards (per-shard sort size
    # is held constant, unlike a fixed default)
    assert auto_n_shards(500_000 * t, t) == 100 * auto_n_shards(5_000 * t, t)
    # cap keeps shard·2^40 seq_id packing inside a signed long
    assert auto_n_shards(10**18, target_tokens_per_shard=1) == 1 << 20


def test_pack_sequences_auto_matches_explicit(spark, docs):
    from snorkel_spark.operators.textstats import auto_n_shards, pack_sequences

    total = docs.select(
        F.sum(F.size(F.split("text", " ")))
    ).first()[0]
    want_shards = auto_n_shards(total, target_tokens_per_shard=1000)
    assert want_shards > 16  # the auto value actually engaged at this sf
    auto = pack_sequences(
        docs, max_tokens=128, n_shards=None, target_tokens_per_shard=1000
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    explicit = pack_sequences(
        docs, max_tokens=128, n_shards=want_shards
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert auto.equals(explicit)
    # packing invariants under the auto shard count
    assert (auto["offset_in_seq"] < 128).all()
    assert (auto["shard"] < want_shards).all()
    assert auto["doc_id"].nunique() == len(auto)


# -------------------------------------------------- top_terms plan shape
def test_top_terms_plans_as_take_ordered(spark, docs):
    from snorkel_spark.operators.textstats import top_terms

    # global top-k must be a per-partition heap + driver merge, never a
    # single-partition exchange of the |vocab|-row aggregate
    assert "TakeOrderedAndProjectExec" in [n for n, _ in plan_nodes(top_terms(docs, k=20))]
    got = top_terms(docs, k=5).collect()
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    freqs = [r["doc_freq"] for r in got]
    assert freqs == sorted(freqs, reverse=True)


# ------------------------------------- CC convergence confirmation round
def _path_pairs(spark, nodes):
    return spark.createDataFrame(
        [(a, b) for a, b in zip(nodes, nodes[1:])], "doc_a string, doc_b string"
    )


def test_cc_converges_exactly_at_max_iter(spark):
    """A 5-node path needs exactly 4 propagation rounds; with
    max_iter=4 the final round still reports changes (it changed labels
    INTO the fixpoint), so the guard must confirm with one extra round
    instead of false-positively raising."""
    from snorkel_spark.operators.dedup import connected_components

    nodes = ["a", "b", "c", "d", "e"]
    got = connected_components(_path_pairs(spark, nodes), max_iter=4)
    assert {(r["node"], r["component"]) for r in got.collect()} == {
        (n, "a") for n in nodes
    }


def test_cc_still_raises_when_genuinely_unconverged(spark):
    from snorkel_spark.operators.dedup import connected_components

    nodes = [f"n{i:02d}" for i in range(8)]  # diameter 7
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_path_pairs(spark, nodes), max_iter=2)


def test_bmp_ppm_roundtrip():
    """encode→decode is the identity on pixels for both real codecs,
    including BMP's padded-row case (w=3 → stride 12 ≠ 9)."""
    import numpy as np
    from snorkel_spark.operators.multimodal import (
        decode_media, encode_bmp, encode_ppm,
    )

    rng = np.random.default_rng(7)
    for h, w in [(2, 2), (3, 3), (5, 7)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        fmt, back = decode_media(encode_bmp(img))
        assert fmt == "bmp" and back.shape == (h, w, 3)
        assert (back == img).all()
        fmt, back = decode_media(encode_ppm(img))
        assert fmt == "ppm" and back.shape == (h, w, 3)
        assert (back == img).all()
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG\r\n\x1a\n....")  # compressed: honest raise


def test_decode_images_spark(spark):
    """The Arrow-batched decode path on a mixed corpus: real BMP + PPM
    payloads decode to exact dims/means; a poison payload is skipped
    under the default policy and raises under on_error='raise'."""
    import numpy as np
    from snorkel_spark.operators.multimodal import (
        decode_images, encode_bmp, encode_ppm,
    )

    solid = np.full((4, 6, 3), (10, 200, 30), dtype=np.uint8)
    grad = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    rows = [
        ("d1", "media://a.bmp", "image", bytearray(encode_bmp(solid)), 0),
        ("d2", "media://b.ppm", "image", bytearray(encode_ppm(grad)), 0),
        ("d3", "media://c.png", "image", bytearray(b"\x89PNG poison"), 0),
    ]
    m = spark.createDataFrame(rows, "doc_id string, media_ref string, kind string, payload binary, n_bytes int")
    got = {r["media_ref"]: r for r in decode_images(m).collect()}
    assert set(got) == {"media://a.bmp", "media://b.ppm"}
    a = got["media://a.bmp"]
    assert (a["format"], a["width"], a["height"]) == ("bmp", 6, 4)
    assert (a["mean_r"], a["mean_g"], a["mean_b"]) == (10000, 200000, 30000)
    b = got["media://b.ppm"]
    assert (b["format"], b["width"], b["height"]) == ("ppm", 3, 2)
    assert b["mean_r"] == int(grad[:, :, 0].mean() * 1000)
    with pytest.raises(Exception):
        decode_images(m, on_error="raise").collect()


def test_gopher_rules_per_rule(spark):
    """Each MassiveText rule (Rae et al. 2021 §A1.1) trips on exactly
    the doc constructed to violate it and only that rule; a clean doc
    passes all seven.  min_words lowered so the tiny fixtures are
    in-range for every rule except the one under test."""
    from snorkel_spark.operators.textstats import gopher_rules

    good = ("the cat and the dog have to be there with food . " * 3).strip()
    docs = [
        ("ok", good),
        ("short", "the cat and dogs"),                       # word-count
        ("longword", good + " " + "z" * 4000),               # mean-word-len
        ("symbols", good + " ### ### ### # #"),              # symbol-ratio
        ("bullets", "the cat and" + "\n- b" * 30),           # bullet-lines
        ("ellipsis", "the cat and" + "\nfades..." * 30),     # ellipsis-lines
        ("nonalpha", good + (" 123" * 40)),                  # alpha-words
        ("nostop", "cats dogs eat food . " * 6),             # stopwords
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            spark.createDataFrame(docs, "doc_id string, text string"),
            min_words=10,
        ).collect()
    }
    rules = ["r_word_count", "r_mean_word_len", "r_symbol_ratio",
             "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
             "r_stopwords"]
    assert all(out["ok"][r] == 1 for r in rules) and out["ok"]["keep"] == 1
    failing = {
        "short": "r_word_count", "longword": "r_mean_word_len",
        "symbols": "r_symbol_ratio", "bullets": "r_bullet_lines",
        "ellipsis": "r_ellipsis_lines", "nonalpha": "r_alpha_words",
        "nostop": "r_stopwords",
    }
    for doc_id, bad_rule in failing.items():
        row = out[doc_id]
        assert row[bad_rule] == 0, f"{doc_id} should fail {bad_rule}: {row}"
        assert row["keep"] == 0


def test_mixture_sample_exact_and_deterministic(spark):
    """The keep decision is exactly md5(doc_id‖salt)-derived: expected
    u_ppm recomputed in Python; rate-1.0 keeps all, weight-0 and
    unknown-source rows drop; a different salt draws an independent
    (different) sample of the same table."""
    import hashlib

    from snorkel_spark.operators.textstats import mixture_sample

    rows = [(str(i), "a" if i < 10 else ("b" if i < 20 else "zz"))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id string, source string")

    def u(doc_id, salt="mix"):
        return int(hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:12], 16) % 1_000_000

    got = {r["doc_id"]: r for r in
           mixture_sample(docs, {"a": 1_000_000, "b": 500_000}).collect()}
    expect = {d for d, s in rows
              if (s == "a") or (s == "b" and u(d) < 500_000)}
    assert set(got) == expect            # zz (unknown) all dropped
    for d in expect:
        assert got[d]["u_ppm"] == u(d)
    again = {r["doc_id"] for r in
             mixture_sample(docs, {"a": 1_000_000, "b": 500_000}).collect()}
    assert again == expect               # content-stable re-run
    other = {r["doc_id"] for r in
             mixture_sample(docs, {"b": 500_000}, salt="mix2").collect()}
    b_mix2 = {d for d, s in rows if s == "b" and u(d, "mix2") < 500_000}
    assert other == b_mix2 and other != (expect - {str(i) for i in range(10)})


def test_unigram_surprisal_hand_computed(spark):
    """bits(tok) = ⌊log₂⌊N/c⌋⌋ against hand counts, and the vocab_k cut
    actually bites: an out-of-vocab token scores as count=1."""
    from snorkel_spark.operators.textstats import unigram_surprisal

    docs = spark.createDataFrame(
        [("d1", "a a b b a"), ("d2", "b c")], "doc_id string, text string"
    )
    # counts: a=3, b=3, c=1, N=7; bits: a=⌊log2(7//3=2)⌋=1, b=1, c=⌊log2 7⌋=2
    full = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    assert full["d1"]["n_tokens"] == 5
    assert full["d1"]["mean_bits"] == 1.0          # (1+1+1+1+1)/5
    assert full["d2"]["mean_bits"] == 1.5          # (1+2)/2
    # vocab_k=1 keeps only 'a' (count desc, token asc tie-break):
    # b becomes OOV -> treated as c=1 -> bits 2
    cut = {r["doc_id"]: r for r in unigram_surprisal(docs, vocab_k=1).collect()}
    assert cut["d2"]["mean_bits"] == 2.0           # (2+2)/2
    assert cut["d1"]["mean_bits"] == 1.4           # (1,1,2,2,1)/5


# ------------------------------------------------ SemDeDup (Abbas'23)
def _np_semdedup(vecs, n_centroids, threshold):
    """Independent NumPy reference of the semdedup spec: stride-sample
    centroids, argmax-cosine assignment (ccos rounded to 6 dp), then
    the per-cluster greedy sweep in (ccos ASC, id ASC) order."""
    import numpy as np

    n = len(vecs)
    s = max(n // n_centroids, 1)
    cids = [i * s for i in range(n_centroids) if i * s < n]

    def cos(a, b):
        a, b = np.asarray(a, float), np.asarray(b, float)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assign, ccos = {}, {}
    for i in range(n):
        best = max(cids, key=lambda c: (cos(vecs[i], vecs[c]), -c))
        assign[i] = best
        ccos[i] = round(cos(vecs[i], vecs[best]), 6)
    dup = {}
    for c in set(assign.values()):
        members = sorted((i for i in assign if assign[i] == c),
                         key=lambda i: (ccos[i], i))
        for pos, i in enumerate(members):
            dup[i] = any(
                round(cos(vecs[i], vecs[j]), 6) >= threshold
                for j in members[:pos]
            )
    return assign, ccos, dup


def test_semdedup_matches_numpy_reference(spark):
    import numpy as np

    from snorkel_spark.operators.similarity import semdedup

    rng = np.random.RandomState(11)
    vecs = rng.randn(12, 6).round(3).astype(np.float32)
    # plant a near-dup PAIR: row 9 ≈ row 3 (tiny perturbation), and an
    # exact triple: rows 10, 11 == row 5
    vecs[9] = vecs[3] + 0.001
    vecs[10] = vecs[5]
    vecs[11] = vecs[5]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(12)],
        "vec_id int, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in semdedup(df, n_centroids=3, threshold=0.95).collect()}
    assign, ccos, dup = _np_semdedup([list(map(float, v)) for v in vecs], 3, 0.95)
    assert set(got) == set(range(12))
    for i in range(12):
        assert got[i]["centroid_id"] == assign[i], i
        assert abs(got[i]["ccos"] - ccos[i]) < 1e-6, i
        assert got[i]["is_dup"] == dup[i], i
    # the planted groups really did dedup: exactly one survivor each
    for group in ([3, 9], [5, 10, 11]):
        if len({assign[i] for i in group}) == 1:  # co-clustered
            assert sum(not dup[i] for i in group) == 1


def test_semdedup_keeps_furthest_from_centroid(spark):
    """Paper semantics: among near-dups the survivor is the member with
    the LOWEST cosine to its centroid (the 'edge' example)."""
    import numpy as np

    from snorkel_spark.operators.similarity import semdedup

    base = np.array([1.0, 0.0, 0.0, 0.0])
    near = np.array([0.9, 0.1, 0.0, 0.0])   # same dup group, further out
    far = np.array([0.0, 0.0, 1.0, 0.0])    # second centroid's singleton
    # n=4, k=2 -> stride 2 -> centroids at vec_id 0 and 2
    rows = [(0, list(base)), (1, list(near / np.linalg.norm(near))),
            (2, list(far)), (3, list(-far + np.array([0.0, 0.01, 0.0, 0.0])))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id int, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in semdedup(df, n_centroids=2, threshold=0.95).collect()}
    # 0 and 1 share centroid 0 and are ≥0.95-similar; 1 sits further
    # from the centroid (ccos < 1) so 1 survives, 0 is pruned
    assert out[0]["centroid_id"] == 0 and out[1]["centroid_id"] == 0
    assert out[1]["ccos"] < out[0]["ccos"]
    assert out[0]["is_dup"] is True and out[1]["is_dup"] is False
    # singletons stay kept
    assert out[2]["is_dup"] is False and out[3]["is_dup"] is False


def test_auto_n_centroids_growth():
    from snorkel_spark.operators.similarity import auto_n_centroids

    assert auto_n_centroids(0) == 4
    assert auto_n_centroids(1000, target_cluster=512) == 4   # min clamp
    assert auto_n_centroids(1_000_000, target_cluster=512) == 1954
    # 100x corpus -> 100x clusters, constant expected width
    assert auto_n_centroids(100_000_000, target_cluster=512) == 195313


# --------------------------------------- intra-doc line dedup (RefinedWeb)
def test_dedup_lines_first_occurrence(spark):
    from snorkel_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [("1", "A\nB\nA\nC\nB"), ("2", "x\ny"), ("3", "z\nz\nz")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out["1"]["text_deduped"] == "A\nB\nC"
    assert out["1"]["n_lines"] == 5 and out["1"]["n_dropped"] == 2
    assert out["2"]["text_deduped"] == "x\ny" and out["2"]["n_dropped"] == 0
    assert out["3"]["text_deduped"] == "z" and out["3"]["n_dropped"] == 2


def test_dedup_lines_planted_fixture(spark, docs):
    from snorkel_spark.operators.dedup import dedup_lines
    from snorkel_spark.sources.fixtures import docs_with_repeated_lines

    out = dedup_lines(docs_with_repeated_lines(docs)).collect()
    for r in out:
        expect = 2 if int(r["doc_id"]) % 5 == 0 else 1
        assert r["n_lines"] == 5 and r["n_dropped"] == expect, r["doc_id"]


# ------------------------------------------- cluster representatives
def test_cluster_representatives_keep_longest(spark):
    from snorkel_spark.operators.dedup import cluster_representatives

    # two exact dups (same text -> same cluster, tie on length ->
    # lowest doc_id wins), one longer near-dup joined via clusters
    # arg, one singleton
    docs = spark.createDataFrame(
        [("10", "aa bb cc"), ("11", "aa bb cc"), ("12", "aa bb cc dd"),
         ("13", "zz yy")],
        "doc_id string, text string",
    )
    clusters = spark.createDataFrame(
        [("10", "10"), ("11", "10"), ("12", "10")],
        "doc_id string, cluster_id string",
    )
    out = {r["doc_id"]: r for r in
           cluster_representatives(docs, clusters=clusters).collect()}
    assert out["12"]["is_rep"] is True          # longest member
    assert out["10"]["is_rep"] is False and out["11"]["is_rep"] is False
    assert out["13"]["is_rep"] is True          # singleton keeps itself
    assert out["13"]["cluster_id"] == "13"
    # exactly one rep per cluster
    reps = [r for r in out.values() if r["cluster_id"] == "10" and r["is_rep"]]
    assert len(reps) == 1


def test_cluster_representatives_end_to_end(spark, docs):
    """Composed with the real clustering: every cluster has exactly one
    representative and every doc is flagged."""
    from snorkel_spark.operators.dedup import cluster_representatives, duplicate_clusters

    out = cluster_representatives(
        docs, duplicate_clusters(docs, threshold=0.5, n_hashes=32, n_bands=16)
    ).toPandas()
    assert len(out) == docs.count()
    per = out.groupby("cluster_id")["is_rep"].sum()
    assert (per == 1).all()


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
